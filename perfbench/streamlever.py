"""Open-loop ``stream-lever`` workload.

A single generator thread writes zipf-keyed event files into a watched
directory on a fixed schedule that does not slow when Spark slows; each
event carries its creation (due) stamp.  One Structured Streaming query
keeps a watermarked per-key tumbling-window aggregate (state store) and,
in ``foreachBatch``, runs the Lever loop and upserts the batch into a
result table:

    previous batch's task runtimes/bytes (status REST API)
      -> lever.metrics.TraceCollector -> LeverBalancer.on_batch
      -> lever.actuator.apply_plan -> delta write (merge-on-read upsert)

Partition ``p`` of every stage maps to virtual host ``h{p % nproc}``, so
uneven partitions reach the classifier and strategies.  An event's
latency runs from its creation stamp to the commit of the sink write
that contains it.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import datagen
from engine import RunContext, host_facts, timed_setups
from measure import (
    Lateness, PeakRss, Phases, highest_supported_percentile, layer_self_seconds, median, percentile, schedule,
)
from sparkmetrics import SparkStatus, task_bytes, task_runtime_ms, task_shuffle_read

RATE_ROWS_PER_S = 10_000
FILE_INTERVAL_S = 0.1
# With a 2 s trigger the batches (1-1.7 s on 4 cores) overran it whenever
# the host slowed, and the backlog doubled the latencies of such runs; 3 s
# leaves room for that.
TRIGGER_S = 3.0
# ProcessingTime triggers fire at whole multiples of the interval since the
# epoch.  The generator starts PHASE_S after one, so every file lands at the
# same point between two triggers in every run (never racing one), and the
# run-to-run spread of the latencies does not depend on a random phase.
PHASE_S = 0.05
# The stream runs one trigger interval before the measured --seconds: the
# first batch of a query is up to twice as slow while its code compiles.
# Warm events are checked for correctness but left out of the metrics.
WARM_S = TRIGGER_S
WINDOW = "5 seconds"
WATERMARK = "10 seconds"
DRAIN_TIMEOUT_S = 60.0
SCHEMA = "event_id long, key long, value long, ts timestamp"


def lever_config():
    """The reference's straggler thresholds (300/600/300 ms) assume
    multi-second tasks; this workload's tasks run for tens of ms, so the
    same thresholds are scaled by 1/30."""
    from spark_lever_spark.lever.model import LeverConfig

    return LeverConfig(trigger_spread_ms=10.0, helper_margin_ms=20.0, regression_ms=10.0)


class Generator(threading.Thread):
    """Writes file k at its due time ``start + (k + 1) * interval``; the
    file holds the events created during interval k.  ``start`` is the
    next trigger time plus ``PHASE_S``."""

    def __init__(self, seed: int, out_dir: str, stage_dir: str, seconds: float) -> None:
        super().__init__(name="event-generator", daemon=True)
        self.seed, self.out_dir, self.stage_dir = seed, out_dir, stage_dir
        self.n = int(RATE_ROWS_PER_S * FILE_INTERVAL_S)
        self.files = int(round(seconds / FILE_INTERVAL_S))
        self.first_due: list[float] = []  # per file: creation stamp of its first event
        self.lateness = Lateness()
        self.start_wall = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self.start_wall = (time.time() // TRIGGER_S + 1) * TRIGGER_S + PHASE_S
            for k in range(self.files):
                created = schedule(self.start_wall, FILE_INTERVAL_S, k)
                due = created + FILE_INTERVAL_S
                time.sleep(max(0.0, due - time.time()))
                table, _ = datagen.stream_file(self.seed, k, self.n, created, FILE_INTERVAL_S)
                name = f"ev-{k:06d}.parquet"
                staged = os.path.join(self.stage_dir, name)
                pq.write_table(table, staged)
                os.replace(staged, os.path.join(self.out_dir, name))
                self.lateness.record(due, time.time())
                self.first_due.append(created)
        except BaseException as e:  # surfaced by the caller after join
            self.error = e

    @property
    def rows(self) -> int:
        return len(self.first_due) * self.n


@dataclass
class BatchRecord:
    batch_id: int
    commit_wall: float
    weights: dict
    plan: bool
    traced: bool
    on_batch_us: float = 0.0
    apply_plan_s: float = 0.0
    write_s: float = 0.0
    group: str = ""


@dataclass
class LeverLoop:
    """The foreachBatch body: Lever control loop plus upsert sink."""

    spark: object
    ctx: RunContext
    result_dir: str
    traced_batches: bool
    records: list = field(default_factory=list)
    actuation_bytes: int = 0
    share_dev: list = field(default_factory=list)

    def __post_init__(self) -> None:
        from spark_lever_spark.lever.balancer import LeverBalancer
        from spark_lever_spark.lever.metrics import TraceCollector

        n = self.ctx.nproc
        width = len(str(n - 1))
        self.hosts = [f"h{i:0{width}d}" for i in range(n)]
        self.collector = TraceCollector()
        self.balancer = LeverBalancer(lever_config())
        self.status = SparkStatus(self.spark)

    def _feed_previous(self) -> object | None:
        """Feed the previous batch's tasks to the collector; also score
        how closely its actuated stage followed the planned weights."""
        if not self.records:
            return None
        prev = self.records[-1]
        self.status.flush_listeners()
        _, stages = self.status.group_stages(prev.group)
        if not stages:
            return None
        n = len(self.hosts)
        for st in stages:
            tasks = self.status.task_list(st)
            for t in tasks:
                self.collector.record_task(self.hosts[t["index"] % n], task_runtime_ms(t), task_bytes(t))
            if st is stages[-1]:  # the write stage reads the actuation shuffle
                rows = [0] * n
                for t in tasks:
                    rec, by = task_shuffle_read(t)
                    rows[t["index"] % n] += rec
                    self.actuation_bytes += by
                total = sum(rows)
                if total:
                    w = prev.weights
                    wsum = sum(w.values())
                    self.share_dev.append(max(
                        abs(rows[i] / total - w[h] / wsum) for i, h in enumerate(self.hosts)
                    ))
        return self.collector.flush(prev.batch_id, prev.write_s * 1e3, prev.write_s * 1e3)

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F
        from spark_lever_spark.lever.actuator import apply_plan

        tracer = self.ctx.tracer
        traced = self.traced_batches and batch_id % 2 == 1
        req = f"batch{batch_id}"
        span = tracer.span if traced else (lambda *a, **k: nullcontext())
        with span("lever.metrics", request=req):
            report = self._feed_previous()
        plan = None
        t0 = time.perf_counter()
        with span("lever.on_batch", request=req):
            if report is not None:
                plan = self.balancer.on_batch(report)
        on_batch_us = (time.perf_counter() - t0) * 1e6
        if plan is not None:
            weights = self.balancer.target_weights(report)
            weights = {h: weights.get(h, 0.0) for h in self.hosts}
        else:
            weights = {h: 1.0 for h in self.hosts}
        t1 = time.perf_counter()
        with span("lever.apply_plan", request=req):
            rows = batch_df.select(
                F.unix_seconds(F.col("window.start")).alias("wstart"),
                "key", "cnt", "vsum", F.lit(batch_id).alias("batch_id"),
            )
            balanced = apply_plan(self.spark, rows, weights, num_partitions=len(self.hosts))
        t2 = time.perf_counter()
        group = f"b{batch_id}"
        self.spark.sparkContext.setJobGroup(group, req)
        try:
            with span("sink.write", request=req):
                balanced.write.parquet(os.path.join(self.result_dir, f"delta-{batch_id:06d}"))
        finally:
            self.spark.sparkContext.setJobGroup("", "")
        t3 = time.perf_counter()
        self.records.append(BatchRecord(
            batch_id, time.time(), weights, plan is not None, traced,
            on_batch_us, t2 - t1, t3 - t2, group,
        ))


def count_failed(oracle, got, attempted: int) -> tuple[int, int]:
    """(failed events, spurious result rows) of a result table against
    its oracle, both with columns ``wstart key cnt vsum``.  Every event
    belongs to one oracle row: a wrong or missing row fails its ``cnt``
    events (events of files no batch committed included), and a result
    row the oracle lacks fails as one spurious output.  Each event counts
    once, and ``failed`` never exceeds ``attempted``."""
    m = oracle.merge(got, on=["wstart", "key"], how="outer", suffixes=("", "_got"))
    extra = int(m["cnt"].isna().sum())
    wrong = m["cnt"].notna() & ((m["cnt"] != m["cnt_got"]) | (m["vsum"] != m["vsum_got"]))
    return min(attempted, int(m.loc[wrong, "cnt"].sum()) + extra), extra


def _start_query(spark, in_dir: str, ck: str, handler, trigger: dict):
    from pyspark.sql import functions as F
    from spark_lever_spark.streaming.core import file_stream, tumbling_window_agg

    src = file_stream(spark, in_dir, SCHEMA, fmt="parquet")
    agg = tumbling_window_agg(
        src, "ts", WINDOW, keys=["key"],
        aggs=[F.count("*").alias("cnt"), F.sum("value").alias("vsum")],
        watermark=WATERMARK,
    )
    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(handler)
        .trigger(**trigger)
        .option("checkpointLocation", ck)
        .start()
    )


def run(ctx: RunContext) -> dict:
    import duckdb

    phase = Phases()
    warm_in = ctx.path("warm-in", "")
    table, _ = datagen.stream_file(ctx.seed, 0, 2000, time.time(), FILE_INTERVAL_S)
    pq.write_table(table, os.path.join(warm_in, "ev-000000.parquet"))

    def warm_up(spark, cycle):
        loop = LeverLoop(spark, ctx, ctx.path(f"warm-out{cycle}", ""), False)
        q = _start_query(spark, warm_in, ctx.path(f"warm-ck{cycle}", ""), loop, {"availableNow": True})
        q.awaitTermination()

    spark, setup = timed_setups(ctx, warm_up)
    phase("setup")

    in_dir = ctx.path("in", "")
    result_dir = ctx.path("result", "")
    gen = Generator(ctx.seed, in_dir, ctx.path("stage", ""), WARM_S + ctx.seconds)
    loop = LeverLoop(spark, ctx, result_dir, ctx.trace)
    with PeakRss() as rss:
        q = _start_query(spark, in_dir, ctx.path("ck", ""), loop, {"processingTime": f"{TRIGGER_S:g} seconds"})
        gen.start()
        gen.join(WARM_S + ctx.seconds + 30)
        processed_at_end = sum(p["numInputRows"] for p in q.recentProgress)
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline:
            if sum(p["numInputRows"] for p in q.recentProgress) >= gen.rows:
                break
            if q.exception() is not None:
                break
            time.sleep(0.1)
        progress = [p for p in q.recentProgress]
        q.stop()
    if gen.error is not None:
        raise gen.error
    phase("measure")

    # which batch committed which file: the file source takes every new
    # file in write order, so cumulative input rows map batches to files
    commit_of = {r.batch_id: r.commit_wall for r in loop.records}
    n = gen.n
    file_commit = np.full(len(gen.first_due), np.nan)
    done_files = 0
    for p in sorted(progress, key=lambda p: p["batchId"]):
        k = p["numInputRows"] // n
        if p["batchId"] in commit_of:
            file_commit[done_files:done_files + k] = commit_of[p["batchId"]]
        done_files += k
    missing_files = int(np.isnan(file_commit).sum())
    end_wall = time.time()
    file_commit = np.where(np.isnan(file_commit), end_wall, file_commit)
    offsets = FILE_INTERVAL_S * np.arange(n) / n
    lat_s = (file_commit[:, None] - (np.array(gen.first_due)[:, None] + offsets[None, :])).ravel()
    warm_files = int(round(WARM_S / FILE_INTERVAL_S))
    measured = lat_s[warm_files * n:]

    # correctness: merge-on-read of the result deltas vs DuckDB over the input
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{ctx.path('duckdb')}'")
    oracle = con.execute(f"""
        SELECT CAST(floor(epoch_us(ts) / 5000000) * 5 AS BIGINT) AS wstart, key,
               count(*) AS cnt, sum(value) AS vsum
        FROM read_parquet('{in_dir}*.parquet') GROUP BY ALL""").df()
    got = con.execute(f"""
        SELECT wstart, key, cnt, vsum FROM (
          SELECT *, row_number() OVER (PARTITION BY wstart, key ORDER BY batch_id DESC) AS rn
          FROM read_parquet('{result_dir}*/*.parquet')) WHERE rn = 1""").df()
    con.close()
    failed, extra = count_failed(oracle, got, len(lat_s))
    phase("verify")

    pct = min(99.0, highest_supported_percentile(len(measured)) or 50.0)
    ctx.details.update(
        host=host_facts(ctx, spark, f"generated stream seed={ctx.seed} rate={RATE_ROWS_PER_S}/s"),
        events=int(len(lat_s)),
        measured_events=int(len(measured)),
        tail_percentile=pct,
        batches=len(progress),
        trigger_ms=[p["durationMs"].get("triggerExecution", 0) for p in progress],
        foreach_batch_ms=[round((r.apply_plan_s + r.write_s) * 1e3) for r in loop.records],
        missing_files=missing_files,
        extra_result_rows=int(extra),
        plans_emitted=sum(r.plan for r in loop.records),
        generator_late_ms_p99=round(gen.lateness.p99_ms(), 3),
        backlog_rows_end=int(gen.rows - processed_at_end),
        setup_cycles_s=setup["setup_cycles_s"],
        phases_s=phase.done,
    )
    spark.stop()

    if ctx.trace:
        metrics = _layer_metrics(ctx, setup, loop, progress, gen, processed_at_end)
    else:
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "latency_typical_ms": (percentile(measured, 50.0) * 1e3, "ms"),
            "latency_tail_ms": (percentile(measured, pct) * 1e3, "ms"),
            # delivered events per second: the offered rate while the
            # engine keeps up, lower once a backlog builds
            "ops_per_s": (len(measured) / (file_commit.max() - gen.first_due[warm_files]), "1/s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
        }
    return {"attempted": int(len(lat_s)), "failed": failed, "metrics": metrics}


def _layer_metrics(ctx, setup, loop, progress, gen, processed_at_end) -> dict:
    from layers import PER_LAYER, empty_layer_metrics

    data = [p for p in progress if p["numInputRows"] > 0]

    def p50(key):
        vals = [p["durationMs"].get(key, 0) for p in data]
        return median(vals) if vals else 0.0

    def state(key):
        vals = [p["stateOperators"][0].get(key, 0) for p in data if p.get("stateOperators")]
        return median(vals) if vals else 0.0

    recs = loop.records
    out = empty_layer_metrics()
    out["session.get_session_s"] = setup["session.get_session_s"]
    out["session.warmup_s"] = setup["session.warmup_s"]
    out["session.cold_setup_s"] = setup["session.cold_setup_s"]
    window_s = WARM_S + ctx.seconds
    out.update({
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.latest_offset_ms_p50": p50("latestOffset"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.batches": len(data),
        "streaming.rows_per_batch": median([p["numInputRows"] for p in data]) if data else 0,
        "streaming.idle_share": max(0.0, 1.0 - sum(p["durationMs"]["triggerExecution"] for p in data) / 1e3 / window_s),
        "streaming.backlog_rows_end": gen.rows - processed_at_end,
        "streaming.state_rows": state("numRowsTotal"),
        "streaming.state_memory_bytes": state("memoryUsedBytes"),
        "streaming.state_commit_ms_p50": state("commitTimeMs"),
        "lever.on_batch_us_p50": median([r.on_batch_us for r in recs]) if recs else 0,
        "lever.plans_emitted": sum(r.plan for r in recs),
        "lever.apply_plan_s": sum(r.apply_plan_s for r in recs),
        "lever.actuation_shuffle_bytes": loop.actuation_bytes,
        "lever.max_share_deviation": median(loop.share_dev) if loop.share_dev else 0,
        "sink.write_ms_p50": median([r.write_s * 1e3 for r in recs]) if recs else 0,
        "sink.bytes_written": sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(loop.result_dir) for f in files if f.endswith(".parquet")
        ),
        "generator.late_ms_p99": gen.lateness.p99_ms(),
    })
    traced = {r.batch_id for r in recs if r.traced}
    spans = [s for s in ctx.tracer.spans if s.request.startswith("batch")]
    per_layer = layer_self_seconds(spans)
    n_traced = max(len(traced), 1)
    for lay in ("lever", "sink"):
        out[f"{lay}.self_s"] = per_layer.get(lay, 0.0) / n_traced
    trig = {p["batchId"]: p["durationMs"]["triggerExecution"] / 1e3 for p in data}
    fb = {r.batch_id: r.write_s + r.apply_plan_s for r in recs}
    t_traced = [trig[b] for b in trig if b in traced]
    t_plain = [trig[b] for b in trig if b not in traced]
    out["streaming.self_s"] = median([trig[b] - fb.get(b, 0.0) for b in trig]) if trig else 0.0
    if t_traced and t_plain:
        out["trace.overhead_share"] = median(t_traced) / median(t_plain) - 1.0
    units = {m["name"]: m["unit"] for m in PER_LAYER}
    ctx.details["traced_batches"] = len(traced)
    return {k: (float(v), units[k]) for k, v in out.items()}
