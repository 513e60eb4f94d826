"""Lever-equivalent adaptive load balancer (SURVEY.md §2.A, §7 P4).

The reference fork's novel contribution is a feedback control loop that
re-places *input* data across heterogeneous nodes between micro-batches
(JobMonitor.scala / WorkerMonitor.scala / TaskSetManager.scala in the
reference tree). Structured Streaming owns source->partition placement,
so this re-creation actuates at the shuffle boundary instead: the same
controller (metrics -> capability -> straggler sets -> reassignment
plan) drives a *weighted repartition* injected ahead of heavy stages.

Modules:
- model:        config (the reference's three thresholds) + metric
                dataclasses
- classifier:   quartile straggler classification + rate-drift
                confirmation (TaskSetManager.scala:787-819,
                JobMonitor.scala:204-297)
- capability:   per-host capability estimation (JobMonitor.scala:303-332)
- strategies:   proportion / two-choice plans + the escalation
                selector between them (JobMonitor.scala:353-516)
- balancer:     the per-batch control loop tying the above together
- actuator:     weighted repartition of a micro-batch on the Spark side
- metrics:      per-task telemetry -> BatchReport roll-up

One micro-batch of the live loop (perfbench/streamlever.LeverLoop):
``metrics.TraceCollector`` -> ``LeverBalancer.on_batch`` ->
``LeverBalancer.target_weights`` -> ``actuator.apply_plan``.
"""

from spark_lever_spark.lever.model import (
    BatchReport,
    HostSample,
    LeverConfig,
    Plan,
)
from spark_lever_spark.lever.balancer import LeverBalancer
from spark_lever_spark.lever.actuator import (
    partition_counts,
    weighted_repartition,
)

__all__ = [
    "BatchReport",
    "HostSample",
    "LeverBalancer",
    "LeverConfig",
    "Plan",
    "partition_counts",
    "weighted_repartition",
]
