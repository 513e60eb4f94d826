"""Streaming surface (SURVEY.md §2.B-§2.D, §7 P3).

The reference's DStream model (streaming/.../dstream/DStream.scala:
a function Time -> RDD, processing-time micro-batches, no watermarks)
maps onto Structured Streaming as a strict superset:

- element-wise DStream ops (map/flatMap/filter/...) are ordinary
  DataFrame transformations on a streaming DataFrame;
- keyed ops (reduceByKey, *ByKeyAndWindow) become groupBy/window
  aggregations — incremental state maintenance replaces the reference's
  invReduceFunc bookkeeping (ReducedWindowedDStream.scala:33-176);
- updateStateByKey (StateDStream.scala:29-110) becomes
  applyInPandasWithState.

Sources/sinks: files, socket, kafka (format passthrough); foreachBatch /
console / memory / file sinks. `harness.py` holds the one drain every
streaming query runs through (`StreamDrain`) and the golden-output test
harness (reference TestSuiteBase.scala).
"""

from spark_lever_spark.streaming.core import (
    file_stream,
    sliding_window_agg,
    socket_stream,
    tumbling_window_agg,
)
from spark_lever_spark.streaming.stateful import (
    sessionize_stream,
    update_state_by_key,
)
from spark_lever_spark.streaming.harness import BatchCollector, run_file_batches

__all__ = [
    "sessionize_stream",
    "BatchCollector",
    "file_stream",
    "run_file_batches",
    "sliding_window_agg",
    "socket_stream",
    "tumbling_window_agg",
    "update_state_by_key",
]
