"""Metrics plane: roll per-task telemetry up into ``BatchReport``s.

The reference's metrics plane was three actor systems (executor ->
WorkerMonitor -> JobMonitor; SURVEY.md §2.A L1-L3, L12). Modern Spark
surfaces the same signals in-driver, so ``TraceCollector`` takes the
exact fields a ``SparkListener.onTaskEnd`` would forward (host, task
runtime, bytes read) plus per-host input rates, and ``flush`` turns one
batch of them into a ``BatchReport`` for ``LeverBalancer.on_batch``.

Its live feeder is perfbench's stream-lever loop
(``perfbench/streamlever.LeverLoop``): before each micro-batch it reads
the previous batch's task list from Spark's status API, maps tasks to
hosts and calls ``record_task`` and ``flush``.
"""

from __future__ import annotations

from collections import defaultdict

from spark_lever_spark.lever.model import BatchReport, HostSample


class TraceCollector:
    """Accumulates per-task observations and rolls them up into one
    ``BatchReport`` per batch (reference WorkerMonitor.scala:147-210
    aggregation, minus the actors)."""

    def __init__(self) -> None:
        self._runtime: dict[str, float] = defaultdict(float)
        self._bytes: dict[str, float] = defaultdict(float)
        self._rates: dict[str, float] = {}

    def record_task(self, host: str, runtime_ms: float, bytes_read: float) -> None:
        # per-host runtime is the max over its tasks (tasks run in
        # parallel on a host; the host is done when its last task is)
        self._runtime[host] = max(self._runtime[host], runtime_ms)
        self._bytes[host] += bytes_read

    def record_input_rate(self, host: str, bytes_per_sec: float) -> None:
        self._rates[host] = bytes_per_sec

    def flush(
        self, batch_id: int, total_delay_ms: float, processing_delay_ms: float
    ) -> BatchReport:
        samples = {
            h: HostSample(
                host=h,
                runtime_ms=self._runtime.get(h, 0.0),
                handled_bytes=self._bytes.get(h, 0.0),
                input_rate=self._rates.get(h, 0.0),
            )
            for h in set(self._runtime) | set(self._bytes) | set(self._rates)
        }
        self._runtime.clear()
        self._bytes.clear()
        self._rates.clear()
        return BatchReport(
            batch_id=batch_id,
            total_delay_ms=total_delay_ms,
            processing_delay_ms=processing_delay_ms,
            samples=samples,
        )

