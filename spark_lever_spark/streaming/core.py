"""Streaming sources + windowed transformations.

Source parity (reference StreamingContext.scala:245-454, §2.D):
- textFileStream / fileStream -> `file_stream` (any DataSource format,
  schema required — streams are schematized DataFrames from day one,
  unlike the reference's ArrayBuffer[Any] blocks)
- socketTextStream -> `socket_stream`
- queueStream (test input) -> file batches via harness.run_file_batches
- Kafka direct (external/kafka/.../KafkaUtils.scala:339) ->
  spark.readStream.format("kafka") passthrough (`kafka_stream`)

Window parity (reference DStream.scala:640-651, WindowedDStream.scala):
the reference windows are unions of recent batch RDDs keyed by arrival
time. `window()` over an arrival-time column reproduces that; the same
helpers accept any event-time column as the modern superset.
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
    max_files_per_trigger: int | None = None,
    **options: str,
) -> DataFrame:
    """Directory-monitoring source (reference FileInputDStream.scala).
    `max_files_per_trigger=1` gives the deterministic one-file-per-batch
    cadence the golden harness relies on."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def socket_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """socketTextStream parity (reference SocketInputDStream.scala):
    one `value: string` column per line."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )


# The exact record shape the kafka connector produces — any DataFrame
# with this schema can stand in for a kafka topic, which is how the
# broker-less contract test (tests/test_streaming_kafka.py) proves the
# downstream query graph is source-agnostic.
KAFKA_WIRE_DDL = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def parse_kafka_json(
    records: DataFrame, value_schema: StructType | str
) -> DataFrame:
    """Standard kafka-wire decode (reference direct-stream consumers
    did this per-record in user code): value bytes -> UTF-8 -> JSON
    struct, keeping the broker timestamp for event-time windows. Works
    identically on the real kafka source and on any KAFKA_WIRE_DDL
    stand-in — the contract that makes kafka pipelines testable without
    a broker."""
    return records.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
        F.col("timestamp"),
    ).select("v.*", "timestamp")


def kafka_stream(
    spark: SparkSession, bootstrap_servers: str, subscribe: str, **options: str
) -> DataFrame:
    """Kafka direct-stream parity (reference KafkaUtils.scala:339) —
    requires the kafka connector jar on the classpath at deploy time."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", subscribe)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
    watermark: str | None = None,
) -> DataFrame:
    """DStream.window(winDur) with slide == winDur (DStream.scala:640):
    tumbling window aggregation. `watermark` bounds state for append
    sinks — the modern superset the reference lacked."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    group = [F.window(F.col(ts_col), window_duration), *[F.col(k) for k in keys]]
    agg_cols = list(aggs) or [F.count("*").alias("count")]
    return df.groupBy(*group).agg(*agg_cols)


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    slide_duration: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
    watermark: str | None = None,
) -> DataFrame:
    """DStream.window(winDur, slideDur) (DStream.scala:651) /
    reduceByKeyAndWindow (PairDStreamFunctions.scala:198-347). The
    reference maintained the window incrementally with an inverse
    reduce (ReducedWindowedDStream.scala:123-167); Structured
    Streaming's stateful window aggregation does that bookkeeping
    natively — no invReduceFunc needed."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    group = [
        F.window(F.col(ts_col), window_duration, slide_duration),
        *[F.col(k) for k in keys],
    ]
    agg_cols = list(aggs) or [F.count("*").alias("count")]
    return df.groupBy(*group).agg(*agg_cols)


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap_duration: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Session windows — BEYOND-reference superset (SURVEY.md §2.B:
    'Session windows: absent' in the reference's processing-time model).
    Events within `gap_duration` of each other merge into one variable
    -length session per key."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    group = [
        F.session_window(F.col(ts_col), gap_duration),
        *[F.col(k) for k in keys],
    ]
    agg_cols = list(aggs) or [F.count("*").alias("count")]
    return df.groupBy(*group).agg(*agg_cols)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | Column,
    how: str = "inner",
    left_watermark: tuple[str, str] | None = None,
    right_watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """Stream-stream join parity (PairDStreamFunctions.scala:513-649).
    Outer variants require both watermarks (Structured Streaming needs
    a bound on state; the reference's per-batch cogroup had the batch
    boundary as its implicit bound)."""
    if left_watermark:
        left = left.withWatermark(*left_watermark)
    if right_watermark:
        right = right.withWatermark(*right_watermark)
    return left.join(right, on=list(on) if not isinstance(on, Column) else on, how=how)
