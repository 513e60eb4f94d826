"""Per-layer metrics and the end-to-end metric each one should move.

A traced run prints every metric below; a layer a workload does not
exercise reports 0 (for example ``lever.*`` on ``query-mix``: the
prediction there is no change).  ``moves`` records, before any
optimisation is measured, which end-to-end metric on which workload a
change to that layer should move.
"""

from __future__ import annotations

def _m(name, unit, better, moves):
    return {"name": name, "unit": unit, "better": better, "moves": moves}


def _query_layer(layer: str, workload: str) -> list[dict]:
    moves = f"latency_tail_ms, ops_per_s on {workload}"
    return [
        _m(f"{layer}.build_s", "s", "lower", moves),
        _m(f"{layer}.execute_s", "s", "lower", moves),
        _m(f"{layer}.jobs", "count", "lower", moves),
        _m(f"{layer}.tasks", "count", "lower", moves),
        _m(f"{layer}.shuffle_read_bytes", "bytes", "lower", moves),
        _m(f"{layer}.shuffle_write_bytes", "bytes", "lower", moves),
        _m(f"{layer}.spill_bytes", "bytes", "lower", moves),
        _m(f"{layer}.gc_s", "s", "lower", moves),
        _m(f"{layer}.cpu_busy_share", "share", "higher", moves),
        _m(f"{layer}.task_skew", "ratio", "lower", moves),
    ]


_STREAM = "latency_typical_ms, latency_tail_ms on stream-lever"

PER_LAYER: list[dict] = [
    _m("session.get_session_s", "s", "lower", "setup_s on all workloads"),
    _m("session.warmup_s", "s", "lower", "setup_s on all workloads"),
    _m("session.cold_setup_s", "s", "lower",
       "none: the first set-up, in a fresh JVM; setup_s is the median of three, two in a warm JVM"),
    _m("catalog.load_table_s", "s", "lower", "latency_typical_ms on query-mix"),
    _m("catalog.input_bytes", "bytes", "lower", "latency_typical_ms on query-mix"),
    _m("catalog.input_rows", "count", "lower", "latency_typical_ms on query-mix"),
    *_query_layer("operators", "query-mix"),
    *_query_layer("llm", "query-mix"),
    _m("llm.cached_bytes_peak", "bytes", "lower",
       "latency_tail_ms on query-mix; not peak_rss_mb, whose JVM heap is fixed"),
    _m("llm.cache_leftover_bytes", "bytes", "lower",
       "latency_tail_ms on query-mix; not peak_rss_mb, whose JVM heap is fixed"),
    _m("streaming.trigger_ms_p50", "ms", "lower", _STREAM),
    _m("streaming.add_batch_ms_p50", "ms", "lower", _STREAM),
    _m("streaming.wal_commit_ms_p50", "ms", "lower", _STREAM),
    _m("streaming.commit_offsets_ms_p50", "ms", "lower", _STREAM),
    _m("streaming.latest_offset_ms_p50", "ms", "lower", _STREAM),
    _m("streaming.query_planning_ms_p50", "ms", "lower", _STREAM),
    _m("streaming.batches", "count", "higher", _STREAM),
    _m("streaming.rows_per_batch", "count", "higher", _STREAM),
    _m("streaming.idle_share", "share", "higher", _STREAM),
    _m("streaming.backlog_rows_end", "count", "lower", _STREAM),
    _m("streaming.state_rows", "count", "lower", _STREAM),
    _m("streaming.state_memory_bytes", "bytes", "lower", _STREAM),
    _m("streaming.state_commit_ms_p50", "ms", "lower", _STREAM),
    _m("lever.on_batch_us_p50", "us", "lower", "latency_typical_ms on stream-lever; none elsewhere"),
    _m("lever.plans_emitted", "count", "higher", "latency_typical_ms on stream-lever; none elsewhere"),
    _m("lever.apply_plan_s", "s", "lower", "latency_typical_ms on stream-lever; none elsewhere"),
    _m("lever.actuation_shuffle_bytes", "bytes", "lower", "latency_typical_ms on stream-lever; none elsewhere"),
    _m("lever.max_share_deviation", "share", "lower", "latency_typical_ms on stream-lever; none elsewhere"),
    _m("sink.write_ms_p50", "ms", "lower", "latency_tail_ms on stream-lever"),
    _m("sink.bytes_written", "bytes", "lower", "latency_tail_ms on stream-lever"),
    _m("generator.late_ms_p99", "ms", "lower", "sanity check: a late generator invalidates stream-lever latency"),
    _m("catalog.self_s", "s", "lower", "latency_typical_ms on query-mix"),
    _m("operators.self_s", "s", "lower", "latency_typical_ms on query-mix"),
    _m("llm.self_s", "s", "lower", "latency_typical_ms on query-mix"),
    _m("streaming.self_s", "s", "lower", _STREAM),
    _m("lever.self_s", "s", "lower", "latency_typical_ms on stream-lever; none elsewhere"),
    _m("sink.self_s", "s", "lower", "latency_tail_ms on stream-lever"),
    _m("trace.overhead_share", "share", "lower", "none: traced minus untraced latency, as a share"),
]


def empty_layer_metrics() -> dict[str, float]:
    return {m["name"]: 0.0 for m in PER_LAYER}


def benchmark_entries() -> list[dict]:
    """The ``per_layer`` list of BENCHMARK.json."""
    return [{k: m[k] for k in ("name", "unit", "better")} for m in PER_LAYER]
