"""The per-batch Lever control loop.

Wires classifier -> confirmation -> capability -> strategy selection
into a single ``on_batch`` step, mirroring the reference's actor
round-trip (JobSetFinished -> decidestraggler -> estimateCapability ->
workReassignmentPlan -> DataReallocateTable, JobMonitor.scala:160-382)
as plain driver-side Python. The emitted ``Plan`` is consumed by
``actuator.weighted_repartition`` ahead of the next micro-batch's heavy
stage, and ``exclude_hosts`` reproduces the Wrangler utilization
blacklist (CoarseGrainedSchedulerBackend.scala:123-139).
"""

from __future__ import annotations

from spark_lever_spark.lever import strategies
from spark_lever_spark.lever.capability import estimate_capability
from spark_lever_spark.lever.classifier import (
    Classification,
    classify_quartiles,
    confirm_with_rates,
)
from spark_lever_spark.lever.model import BatchReport, LeverConfig, Plan

# Wrangler utilization limits (CoarseGrainedSchedulerBackend.scala:132).
EXCLUDE_CPU_PCT = 200.0
EXCLUDE_MEM_PCT = 60.0


class LeverBalancer:
    def __init__(self, config: LeverConfig | None = None) -> None:
        self.config = config or LeverConfig()
        self._old_rates: dict[str, float] = {}
        self._last_final_helper: set[str] = set()
        self._last_strategy: str | None = None
        self._last_delay_ms: float = 0.0
        self._last_plan: Plan | None = None

    def on_batch(self, report: BatchReport) -> Plan | None:
        """Feed one batch's metrics; returns a reassignment plan when
        the straggler trigger fires, else None."""
        cfg = self.config
        if not report.samples:
            return None

        runtimes = report.runtimes
        new_rates = {h: s.input_rate for h, s in report.samples.items()}

        # Trigger: per-host runtime spread >= 300 ms (JobMonitor.scala:175).
        if report.spread_ms < cfg.trigger_spread_ms:
            self._remember(report, new_rates, plan=None)
            return None

        potential = classify_quartiles(runtimes, cfg.helper_margin_ms)
        final: Classification = confirm_with_rates(
            potential, self._old_rates, new_rates, self._last_final_helper
        )

        handled = {h: s.handled_bytes for h, s in report.samples.items()}
        capability = estimate_capability(handled, runtimes)
        if not capability:
            self._remember(report, new_rates, plan=None)
            return None

        strategy = strategies.select_strategy(
            len(final.helpee),
            len(final.helper),
            self._last_strategy,
            report.total_delay_ms,
            self._last_delay_ms,
            cfg,
        )
        if strategy is None:
            self._remember(report, new_rates, plan=None)
            return None

        load = {
            h: (s.input_rate if s.input_rate > 0 else s.handled_bytes)
            for h, s in report.samples.items()
        }
        build = (
            strategies.two_choice_plan
            if strategy == strategies.TWO_CHOICE
            else strategies.proportion_plan
        )
        plan = build(final.helpee, final.helper, capability, load)
        self._last_strategy = strategy
        self._last_final_helper = set(final.helper)
        self._remember(report, new_rates, plan)
        return plan if plan.ratios else None

    def _remember(
        self,
        report: BatchReport,
        new_rates: dict[str, float],
        plan: Plan | None,
    ) -> None:
        self._old_rates = dict(new_rates)
        self._last_delay_ms = report.total_delay_ms
        if plan is not None:
            self._last_plan = plan

    def target_weights(self, report: BatchReport) -> dict[str, float]:
        """Absolute per-host load weights for the next batch: the last
        plan folded into current loads, or even weights when balanced."""
        load = {
            h: (s.input_rate if s.input_rate > 0 else max(s.handled_bytes, 1.0))
            for h, s in report.samples.items()
        }
        if self._last_plan is None:
            total = sum(load.values()) or 1.0
            return {h: v / total for h, v in load.items()}
        return self._last_plan.target_weights(load)

    def exclude_hosts(self, report: BatchReport) -> set[str]:
        """Wrangler-style utilization exclusion: cpu >= 200 %,
        mem >= 60 %, or loadavg >= cores
        (CoarseGrainedSchedulerBackend.scala:132; sampled per second in
        the reference, WorkerMonitor.scala:65-129). On modern Spark the
        enforcement knob is ``spark.excludeOnFailure.*`` / decommission;
        here we surface the decision."""
        out: set[str] = set()
        for host, s in report.samples.items():
            if s.cpu_pct is not None and s.cpu_pct >= EXCLUDE_CPU_PCT:
                out.add(host)
            elif s.mem_pct is not None and s.mem_pct >= EXCLUDE_MEM_PCT:
                out.add(host)
            elif (
                s.load_avg is not None
                and s.cores is not None
                and s.load_avg >= s.cores
            ):
                out.add(host)
        return out
