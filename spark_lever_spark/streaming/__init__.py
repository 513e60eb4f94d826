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

Modules: `core` (file source, window aggregates), `stateful`
(updateStateByKey), `harness` (`StreamDrain`, the one drain every
streaming query runs through, and its `BatchCollector` sink), `queries`
(the registered streaming queries). The package exports nothing.
"""
