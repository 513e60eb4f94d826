"""Config + metric dataclasses for the Lever-equivalent balancer.

``LeverConfig`` holds the reference fork's three tunable thresholds,
defaulting to its code-embedded operating points (BASELINE.md §A):

- straggler trigger: per-host runtime spread >= 300 ms
  (JobMonitor.scala:175)
- helper margin inside the interquartile band: 600 ms
  (TaskSetManager.scala:805)
- escalation to two-choice after a last-batch delay regression > 300 ms
  under proportion (JobMonitor.scala:360)

The reference's fixed constants live next to their one reader:
``strategies.ESCALATION_PRODUCT`` and the ``balancer.EXCLUDE_*``
utilization limits.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class LeverConfig:
    trigger_spread_ms: float = 300.0
    helper_margin_ms: float = 600.0
    regression_ms: float = 300.0


@dataclass
class HostSample:
    """One host's metrics for one micro-batch.

    On a real cluster these come from SparkListener task metrics
    aggregated by ``taskInfo.host`` (runtime, bytesRead) and
    StreamingQueryProgress source rates; utilization fields come from an
    OS sampler (the reference shelled out to ``top`` once a second,
    WorkerMonitor.scala:79-129).
    """

    host: str
    runtime_ms: float  # wall-clock of this host's tasks in the batch
    handled_bytes: float = 0.0  # bytes processed by this host
    input_rate: float = 0.0  # bytes/s currently routed to this host
    cpu_pct: float | None = None
    mem_pct: float | None = None
    load_avg: float | None = None
    cores: int | None = None


@dataclass
class BatchReport:
    """Per-micro-batch feedback (reference ``JobSetFinished``,
    JobScheduler.scala:184-206)."""

    batch_id: int
    total_delay_ms: float
    processing_delay_ms: float
    samples: dict[str, HostSample] = field(default_factory=dict)

    @property
    def runtimes(self) -> dict[str, float]:
        return {h: s.runtime_ms for h, s in self.samples.items()}

    @property
    def spread_ms(self) -> float:
        r = list(self.runtimes.values())
        return max(r) - min(r) if r else 0.0


@dataclass
class Plan:
    """A reassignment plan: for each helpee, the share of its load that
    each target host (itself included) should take next batch
    (reference ``DataReallocateTable``)."""

    strategy: str
    ratios: dict[str, dict[str, float]]  # helpee -> {target: share}

    def target_weights(self, current_load: dict[str, float]) -> dict[str, float]:
        """Fold the plan into absolute per-host load weights: start from
        each host's current load and move helpee load per the ratios.
        Normalized to sum 1 — this is what the actuator partitions by."""
        load = dict(current_load)
        for helpee, shares in self.ratios.items():
            moved = load.get(helpee, 0.0)
            if moved <= 0:
                continue
            for target, share in shares.items():
                if target == helpee:
                    continue
                load[target] = load.get(target, 0.0) + moved * share
            load[helpee] = moved * shares.get(helpee, 0.0)
        total = sum(load.values())
        if total <= 0:
            n = max(len(load), 1)
            return {h: 1.0 / n for h in load}
        return {h: v / total for h, v in load.items()}
