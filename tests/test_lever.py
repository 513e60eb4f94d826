"""Lever balancer tests: controller decisions on synthetic metric
traces (the reference shipped zero tests for this code — SURVEY.md §5.7
— so these encode its documented operating points from BASELINE.md §A),
plus Spark-side actuation checks."""

from __future__ import annotations

import dataclasses
import math

import pytest

from spark_lever_spark.lever import (
    BatchReport,
    DynamicBatchSizer,
    HostSample,
    LeverBalancer,
    LeverConfig,
    Plan,
    partition_counts,
    weighted_repartition,
)
from spark_lever_spark.lever.actuator import partition_sizes
from spark_lever_spark.lever.capability import estimate_capability
from spark_lever_spark.lever.classifier import classify_quartiles, confirm_with_rates
from spark_lever_spark.lever.metrics import TraceCollector, progress_to_report
from spark_lever_spark.lever import strategies


def _report(batch_id, runtimes, rates=None, handled=None, delay=None):
    rates = rates or {}
    handled = handled or {}
    samples = {
        h: HostSample(
            host=h,
            runtime_ms=rt,
            handled_bytes=handled.get(h, 1000.0),
            input_rate=rates.get(h, 100.0),
        )
        for h, rt in runtimes.items()
    }
    return BatchReport(
        batch_id=batch_id,
        total_delay_ms=delay if delay is not None else max(runtimes.values()),
        processing_delay_ms=max(runtimes.values()),
        samples=samples,
    )


# ---------------------------------------------------------------- classifier


def test_quartile_classification_sets():
    # 8 hosts, one clear straggler, one clearly fast
    runtimes = {f"h{i}": 1000.0 + i * 10 for i in range(6)}
    runtimes["slow"] = 2500.0
    runtimes["fast"] = 300.0
    c = classify_quartiles(runtimes)
    assert "slow" in c.helpee
    assert "fast" in c.helper
    # drift ratios follow the quartile definition
    assert c.b_helpee_to_median >= 1.0
    assert c.a_median_to_helper >= 1.0


def test_quartile_margin_promotes_midband_to_helper():
    # host in the interquartile band but >=600ms clear of P75 -> helper
    runtimes = {
        "a": 100.0,
        "b": 400.0,  # mid-band, 1600ms below the upper bound
        "c": 1500.0,
        "d": 2000.0,
    }
    c = classify_quartiles(runtimes, helper_margin_ms=600.0)
    assert "b" in c.helper


def test_rate_confirmation_flips_recovered_host():
    runtimes = {"s": 2000.0, "m1": 1000.0, "m2": 1010.0, "f": 500.0}
    pot = classify_quartiles(runtimes)
    assert "s" in pot.helpee
    # s's input rate collapsed (Lever already cut its share) -> not a
    # confirmed straggler anymore; with r < 1/(a*b) it becomes a helper
    a, b = pot.a_median_to_helper, pot.b_helpee_to_median
    tiny = 0.5 / (a * b)
    final = confirm_with_rates(
        pot, old_rates={"s": 100.0}, new_rates={"s": 100.0 * tiny}
    )
    assert "s" in final.helper and "s" not in final.helpee


def test_rate_confirmation_keeps_true_straggler():
    runtimes = {"s": 2000.0, "m1": 1000.0, "m2": 1010.0, "f": 500.0}
    pot = classify_quartiles(runtimes)
    final = confirm_with_rates(
        pot, old_rates={"s": 100.0}, new_rates={"s": 100.0}
    )
    assert "s" in final.helpee


def test_last_round_helper_never_becomes_helpee():
    runtimes = {"s": 2000.0, "m1": 1000.0, "m2": 1010.0, "f": 500.0}
    pot = classify_quartiles(runtimes)
    final = confirm_with_rates(
        pot,
        old_rates={"s": 100.0},
        new_rates={"s": 100.0},
        last_final_helper={"s"},
    )
    assert "s" not in final.helpee


# ---------------------------------------------------------------- capability


def test_capability_formula_median_anchored():
    handled = {"a": 1000.0, "b": 1000.0, "c": 1000.0}
    runtime = {"a": 100.0, "b": 200.0, "c": 400.0}
    cap = estimate_capability(handled, runtime)
    # base throughput a=10, b=5, c=2.5 bytes/ms; median runtime 200
    # a: 10 + (10/100)*(200-100) = 20 ; b: 5 + 0 ; c: 2.5 + (2.5/400)*(-200)
    assert math.isclose(cap["a"], 20.0)
    assert math.isclose(cap["b"], 5.0)
    assert math.isclose(cap["c"], 1.25)
    assert cap["a"] > cap["b"] > cap["c"]


def test_capability_bails_without_runtime():
    assert estimate_capability({"a": 1.0}, {}) == {}


# ---------------------------------------------------------------- strategies


CAP = {"slow": 1.0, "h1": 8.0, "h2": 4.0, "h3": 2.0}
LOAD = {"slow": 100.0, "h1": 100.0, "h2": 100.0, "h3": 100.0}


def test_proportion_shares_follow_capability():
    plan = strategies.proportion_plan({"slow"}, {"h1", "h2", "h3"}, CAP, LOAD)
    shares = plan.ratios["slow"]
    assert math.isclose(sum(shares.values()), 1.0, rel_tol=1e-9)
    # more capable helper takes a strictly larger share
    assert shares["h1"] > shares["h2"] > shares["h3"]
    # h3's fair-by-capability load (2/15 * 400) is below what it already
    # carries (100), so it takes nothing (clamped, not negative)
    assert shares["h3"] == 0.0
    # the straggler keeps its capability-fair share of the pool
    # (cap/denom * pool / load = 4/15), dominated by the strong helper
    assert 0.0 < shares["slow"] < shares["h1"]


def test_two_choice_uses_top_two_helpers():
    plan = strategies.two_choice_plan({"slow"}, {"h1", "h2", "h3"}, CAP, LOAD)
    shares = plan.ratios["slow"]
    assert set(shares) == {"slow", "h1", "h2"}  # h3 not chosen
    assert math.isclose(sum(shares.values()), 1.0, rel_tol=1e-9)
    assert shares["h1"] > shares["h2"]


def test_selector_escalation_rules():
    cfg = LeverConfig()
    # small problem, no regression -> proportion
    assert (
        strategies.select_strategy(2, 3, None, 1000.0, 1000.0, cfg)
        == strategies.PROPORTION
    )
    # helpee x helper product > 80 -> two-choice
    assert (
        strategies.select_strategy(10, 9, None, 1000.0, 1000.0, cfg)
        == strategies.TWO_CHOICE
    )
    # proportion regressed by > 300ms -> two-choice
    assert (
        strategies.select_strategy(
            2, 3, strategies.PROPORTION, 1500.0, 1000.0, cfg
        )
        == strategies.TWO_CHOICE
    )
    # no helpees -> no plan
    assert strategies.select_strategy(0, 3, None, 0.0, 0.0, cfg) is None


# ---------------------------------------------------------------- balancer


def test_balancer_quiet_below_trigger():
    bal = LeverBalancer()
    r = _report(0, {"a": 1000.0, "b": 1100.0, "c": 1200.0, "d": 1250.0})
    assert r.spread_ms < 300
    assert bal.on_batch(r) is None


def test_balancer_emits_plan_on_spread():
    bal = LeverBalancer()
    runtimes = {"slow": 3000.0, "m1": 1000.0, "m2": 1050.0, "fast": 400.0}
    handled = {h: 1_000_000.0 for h in runtimes}
    rates = {h: 1000.0 for h in runtimes}
    # batch 0 seeds the rate history; batch 1 confirms and plans
    bal.on_batch(_report(0, runtimes, rates, handled))
    plan = bal.on_batch(_report(1, runtimes, rates, handled))
    assert plan is not None and "slow" in plan.ratios
    shares = plan.ratios["slow"]
    assert math.isclose(sum(shares.values()), 1.0, rel_tol=1e-9)
    # folding the plan into loads shifts weight off the straggler
    weights = bal.target_weights(_report(2, runtimes, rates, handled))
    assert weights["slow"] < 1.0 / len(runtimes)


def test_balancer_plans_in_stream_lever_regime():
    """The regime the stream-lever benchmark runs the balancer in: its
    thresholds (10/20/10 ms), task runtimes in the tens of ms, and no
    input rates recorded, so loads fall back to handled bytes."""
    cfg = LeverConfig(trigger_spread_ms=10.0, helper_margin_ms=20.0, regression_ms=10.0)
    assert [f.name for f in dataclasses.fields(LeverConfig)] == [
        "trigger_spread_ms",
        "helper_margin_ms",
        "regression_ms",
    ]
    bal = LeverBalancer(cfg)
    runtimes = {"slow": 80.0, "h1": 30.0, "h2": 32.0, "h3": 28.0}
    rates = {h: 0.0 for h in runtimes}
    handled = {h: 50_000.0 for h in runtimes}
    bal.on_batch(_report(0, runtimes, rates, handled))
    report = _report(1, runtimes, rates, handled)
    plan = bal.on_batch(report)
    assert plan is not None and plan.strategy == strategies.PROPORTION
    weights = bal.target_weights(report)
    assert math.isclose(sum(weights.values()), 1.0, rel_tol=1e-9)
    assert weights["slow"] < 1.0 / len(runtimes)


def test_balancer_wrangler_exclusion_thresholds():
    bal = LeverBalancer()
    samples = {
        "hot-cpu": HostSample("hot-cpu", 1.0, cpu_pct=250.0),
        "hot-mem": HostSample("hot-mem", 1.0, mem_pct=75.0),
        "hot-load": HostSample("hot-load", 1.0, load_avg=9.0, cores=8),
        "ok": HostSample("ok", 1.0, cpu_pct=50.0, mem_pct=30.0, load_avg=1.0, cores=8),
    }
    r = BatchReport(0, 0.0, 0.0, samples)
    assert bal.exclude_hosts(r) == {"hot-cpu", "hot-mem", "hot-load"}


# ------------------------------------------------------------ dynamic batch


def test_dynamic_batch_converges_to_target_occupancy():
    sizer = DynamicBatchSizer(initial_ms=1000.0, warmup=5)
    # constant 600ms processing: steady state interval -> 600/0.75 = 800
    for _ in range(20):
        interval = sizer.on_batch(600.0)
    assert math.isclose(interval, 800.0, rel_tol=0.01)
    assert 600.0 <= 0.76 * interval  # occupancy ~at target


def test_dynamic_batch_backs_off_on_worsening_occupancy():
    # reference branch (RecurringTimer.scala:67-76): interval grew
    # (lastBatch > secondLastBatch), occupancy worsened AND is over
    # target -> back off to 0.75 x the second-last interval
    sizer = DynamicBatchSizer(initial_ms=1000.0, warmup=0)
    sizer.on_batch(900.0)  # seeds history
    grown = sizer.on_batch(900.0)  # 900/0.75 = 1200 > 1000
    assert math.isclose(grown, 1200.0)
    # proc 1100: occupancy 1100/1200 > 900/1000 and over 0.75 target
    backed = sizer.on_batch(1100.0)
    assert math.isclose(backed, 750.0)  # 0.75 x 1000


def test_dynamic_batch_warmup_fixed():
    sizer = DynamicBatchSizer(initial_ms=500.0, warmup=5)
    for _ in range(5):
        assert sizer.on_batch(400.0) == 500.0


# ------------------------------------------------------------ metrics plane


def test_trace_collector_rollup():
    tc = TraceCollector()
    tc.record_task("a", 100.0, 10.0)
    tc.record_task("a", 300.0, 10.0)  # parallel tasks: host runtime = max
    tc.record_task("b", 200.0, 5.0)
    tc.record_input_rate("a", 1000.0)
    rep = tc.flush(7, 350.0, 300.0)
    assert rep.batch_id == 7
    assert rep.samples["a"].runtime_ms == 300.0
    assert rep.samples["a"].handled_bytes == 20.0
    assert rep.samples["b"].handled_bytes == 5.0
    assert rep.samples["a"].input_rate == 1000.0
    # collector resets between batches
    assert tc.flush(8, 0.0, 0.0).samples == {}


def test_progress_to_report_adapter():
    progress = {
        "batchId": 3,
        "numInputRows": 1200,
        "durationMs": {"triggerExecution": 450},
        "sources": [{"inputRowsPerSecond": 2400.0}],
    }
    rep = progress_to_report(progress)
    assert rep.batch_id == 3
    assert rep.samples["local"].runtime_ms == 450.0
    assert rep.samples["local"].input_rate == 2400.0


# ----------------------------------------------------------- actuation (Spark)


def test_partition_counts_apportionment():
    counts = partition_counts({"a": 0.5, "b": 0.3, "c": 0.2}, 10)
    assert counts == {"a": 5, "b": 3, "c": 2}
    # every host keeps at least one partition even at tiny weight
    counts = partition_counts({"a": 0.99, "b": 0.01}, 4)
    assert counts["b"] == 1 and sum(counts.values()) == 4


def test_weighted_repartition_row_distribution(spark):
    # 3 "hosts": capable host gets 4x the rows of the weak one
    df = spark.range(0, 40_000)
    weights = {"big": 4 / 7, "mid": 2 / 7, "small": 1 / 7}
    out = weighted_repartition(df, weights, num_partitions=7, seed=1)
    sizes = sorted(partition_sizes(out), reverse=True)
    assert sum(sizes) == 40_000
    assert len(sizes) == 7
    # every partition carries ~1/7 of rows (equal-size partitions; the
    # *count* per host encodes the weights) — allow 30% slop for rand()
    for s in sizes:
        assert abs(s - 40_000 / 7) / (40_000 / 7) < 0.30


def test_weighted_repartition_preserves_data(spark):
    df = spark.range(0, 5000)
    out = weighted_repartition(df, {"a": 0.7, "b": 0.3}, 4, seed=2)
    assert out.columns == df.columns
    got = sorted(r["id"] for r in out.collect())
    assert got == list(range(5000))


def test_plan_fold_reduces_straggler_share():
    plan = Plan(
        strategy="proportion",
        ratios={"slow": {"slow": 0.2, "h1": 0.5, "h2": 0.3}},
    )
    w = plan.target_weights({"slow": 100.0, "h1": 50.0, "h2": 50.0})
    assert math.isclose(sum(w.values()), 1.0, rel_tol=1e-9)
    assert w["slow"] == pytest.approx(0.1)
    assert w["h1"] == pytest.approx(0.5)
    assert w["h2"] == pytest.approx(0.4)


def test_batch_sizer_honors_measured_overhead_floor():
    """The round-7 trigger-overhead decomposition gives the sizer a
    real per-batch constant: with min_ms at the measured floor, the
    fixed-point iteration must never propose an interval below it
    (which would be pure scheduling overhead on this stack)."""
    from spark_lever_spark.lever.actuator import (
        MEASURED_BATCH_OVERHEAD_MS,
        DynamicBatchSizer,
    )

    s = DynamicBatchSizer(
        initial_ms=5000, warmup=1, min_ms=MEASURED_BATCH_OVERHEAD_MS
    )
    out = 5000.0
    for _ in range(12):  # tiny processing times drive the interval down
        out = s.on_batch(10.0)
    assert out >= MEASURED_BATCH_OVERHEAD_MS


def test_adaptive_drain_policy_trajectory():
    """VERDICT r7 task #4: the L13 sizer gating a 32-file backlog
    drain with the measured c0 = 1.58 s constant. Simulated with the
    linear cost model t(batch) = c0 + w*files (w = 300 ms/file): the
    policy must double while the sizer's trend is healthy, HOLD at the
    first SoCC'14 backoff (over-occupancy + worsening trend), resume
    when the trend recovers, and drain 32 files in 6 segments — a
    predicted (32 - 6) * c0 = 41 s win over fixed 1-file-per-trigger.
    Pure arithmetic, deterministic; the live measurement is recorded
    in BASELINE.md."""
    from spark_lever_spark.lever.actuator import (
        MEASURED_BATCH_OVERHEAD_MS,
        DynamicBatchSizer,
        next_drain_batch_size,
    )

    c0, w = MEASURED_BATCH_OVERHEAD_MS, 300.0
    sizer = DynamicBatchSizer(3000.0, warmup=1)
    remaining, fpt = 32, 1
    sizes: list[int] = []
    holds = 0
    while remaining:
        take = min(fpt, remaining)
        sizes.append(take)
        remaining -= take
        sizer.on_batch(c0 + w * take)
        if sizer.backed_off:
            holds += 1
        fpt = next_drain_batch_size(sizer, take, remaining, max_files=16)
    assert sizes == [1, 2, 4, 8, 8, 9], sizes
    assert holds == 1  # exactly one backoff-gated hold (after the 8-jump)
    predicted_saving_sec = (32 - len(sizes)) * c0 / 1000.0
    assert predicted_saving_sec > 30.0


def test_adaptive_drain_live_small_backlog(spark, sf_dir, tmp_path):
    """End-to-end adaptive_file_drain over a real 6-file backlog:
    checkpoint reuse across restart segments must process every file
    exactly once (segment sizes sum to the backlog) in fewer segments
    than files, with the doubling trajectory."""
    import os

    from pyspark.sql import functions as F

    from spark_lever_spark.lever.actuator import adaptive_file_drain

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    src = str(tmp_path / "backlog")
    ev.limit(6000).repartition(6).write.parquet(src)
    files = sorted(
        os.path.join(src, f)
        for f in os.listdir(src)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    assert len(files) == 6
    out = adaptive_file_drain(
        spark,
        files,
        ev.schema,
        lambda sdf: sdf.groupBy("event_type").count(),
    )
    sizes = [s for s, _ in out["segments"]]
    assert sum(sizes) == 6
    assert len(sizes) < 6
    assert sizes[0] == 1
