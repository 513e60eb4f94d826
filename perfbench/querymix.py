"""Closed-loop ``query-mix`` workload.

One client runs passes over a fixed mix of registry queries on fixed
generated tables: the relational queries exercise the ``operators``
layer, the LLM-pipeline queries the ``llm`` layer.  Pass ``p`` visits
every query once, in the mix order rotated by ``p``.  A query's latency
is plan + execute + collect: ``Query.fn(spark, data)`` followed by
``toPandas()``.  Every result is checked against the query's DuckDB
oracle, computed once before timing starts.
"""

from __future__ import annotations

import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext

import pandas as pd

import datagen
from engine import RunContext, host_facts, timed_setups
from measure import PeakRss, Phases, geomean, layer_self_seconds, median
from sparkmetrics import SparkStatus, StageCounters

OLAP_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_profit_by_nation_year",
    "q18_large_volume_customer",
    "join_inner",
    "window_topk_per_group",
    "sessionize_events",
    "asof_purchase_last_view",
)
LLM_MIX = (
    "dedup_exact_md5",
    "dedup_cluster_quality_election",
    "text_token_counts",
    "text_repetition_signals",
    "pack_documents_2048",
    "knn_cosine_topk",
    "ann_ivf",
)
MIX = OLAP_MIX + LLM_MIX
LAYER = {**{q: "operators" for q in OLAP_MIX}, **{q: "llm" for q in LLM_MIX}}

# (tables, scale factor): sf0.05 is 300k lineitem rows, 2500
# documents (a few MB) and 1000 embeddings.
TABLES = (
    ({"region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"}, 0.05),
    ({"documents", "embeddings"}, 0.05),
)
# The tables and the query order are the same in every run: the JVM is
# still compiling during a run (pass time keeps falling for a minute),
# so a seed-dependent order moved the results by 15 % between runs.
TABLE_SEED = 42
# Share of the slowest per-query medians averaged into latency_tail_ms.
TAIL_SHARE = 0.25


class _Collected:
    """A collected result in the shape ``tests.oracle.compare`` reads."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - mirrors DataFrame
        return self.pdf


@contextmanager
def traced_load_table(tracer):
    """Wrap ``catalog.load_table`` wherever the engine imported it, so
    catalog time shows as its own span inside each query."""
    from spark_lever_spark import catalog

    orig = catalog.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("catalog.load_table"):
            return orig(spark, sf_dir, name)

    mods = [
        m for n, m in list(sys.modules.items())
        if n.startswith("spark_lever_spark") and getattr(m, "load_table", None) is orig
    ]
    for m in mods:
        m.load_table = load_table
    try:
        yield
    finally:
        for m in mods:
            m.load_table = orig


class _CachePoller:
    """Polls persisted-block bytes while a query runs."""

    def __init__(self, status: SparkStatus) -> None:
        self.status = status
        self._stop = threading.Event()

    def _loop(self) -> None:
        while not self._stop.wait(0.05):
            self.peak = max(self.peak, self.status.cached_bytes())

    def __enter__(self):
        self.before = self.peak = self.status.cached_bytes()
        self._t = threading.Thread(target=self._loop, name="cache-poller", daemon=True)
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join(timeout=5)
        self.after = self.status.cached_bytes()
        self.peak = max(self.peak, self.after)


class _LayerTotals:
    """Counters of the traced queries of one layer."""

    def __init__(self) -> None:
        self.n = 0
        self.build_s = self.execute_s = 0.0
        self.stages = StageCounters()
        self.cache_peak = self.cache_left = 0


def run(ctx: RunContext) -> dict:
    from spark_lever_spark import registry
    from spark_lever_spark.catalog import load_table
    from tests.oracle import compare, duckdb_con

    phase = Phases()
    data = ctx.path("data")
    for tables, sf in TABLES:
        datagen.write_tables(data, TABLE_SEED, sf, tables)
    queries = registry.all_queries()
    phase("datagen")
    con = duckdb_con(data)
    con.execute(f"SET temp_directory='{ctx.path('duckdb')}'")
    oracle = {name: con.execute(queries[name].oracle).df() for name in MIX}
    con.close()
    phase("oracle")

    spark, setup = timed_setups(ctx, lambda spark, cycle: load_table(spark, data, "lineitem").count())
    phase("setup")
    # Untimed warm pass, one thread per core: the first runs of a query
    # in a fresh JVM are 20-40 % slower while code is generated and
    # compiled, which would otherwise dominate the timed passes.  (A warm
    # pass over sf0.01 tables saved 3 s but left the first timed queries
    # bimodal, up to twice as slow.)  A full GC afterwards keeps the warm
    # pass's garbage from pausing the first timed queries.
    with ThreadPoolExecutor(max_workers=ctx.nproc) as pool:
        for f in [pool.submit(lambda n=n: queries[n].fn(spark, data).toPandas()) for n in MIX]:
            f.result()
    spark._jvm.java.lang.System.gc()
    phase("warm")

    status = SparkStatus(spark)
    tracer = ctx.tracer
    lat: dict[str, list[float]] = {n: [] for n in MIX}
    traced_lat: dict[str, list[float]] = {n: [] for n in MIX}
    totals = {"operators": _LayerTotals(), "llm": _LayerTotals()}
    results: list[tuple[str, pd.DataFrame | None]] = []  # None: the query raised
    errors: list[str] = []
    passes: list[float] = []
    # passes are never cut short, so every query has the same number of
    # samples; a traced run needs two passes so that every query has a
    # traced and an untraced sample
    min_passes = 2 if ctx.trace else 1

    t_start = time.perf_counter()
    with PeakRss() as rss:
        p = 0
        while p < min_passes or time.perf_counter() - t_start < ctx.seconds:
            t_pass = time.perf_counter()
            for name in MIX[p % len(MIX):] + MIX[:p % len(MIX)]:
                # a traced run traces half the queries of a pass and the
                # other half in the next pass, so the warm-up drift between
                # passes cancels in the traced / untraced ratio
                traced = ctx.trace and (MIX.index(name) + p) % 2 == 1
                layer = LAYER[name]
                req = f"{name}#{p}"
                group = f"q-{req}"
                poller = _CachePoller(status) if traced else nullcontext()
                if traced:
                    spark.sparkContext.setJobGroup(group, req)
                try:
                    with tracer.span("mix.query", request=req) if traced else nullcontext(), \
                            traced_load_table(tracer) if traced else nullcontext(), poller:
                        t0 = time.perf_counter()
                        with tracer.span(f"{layer}.build") if traced else nullcontext():
                            df = queries[name].fn(spark, data)
                        t1 = time.perf_counter()
                        with tracer.span(f"{layer}.execute") if traced else nullcontext():
                            pdf = df.toPandas()
                        t2 = time.perf_counter()
                except Exception as e:  # a failing query is counted, not fatal
                    errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                    results.append((name, None))
                    continue
                finally:
                    if traced:
                        spark.sparkContext.setJobGroup("", "")
                (traced_lat if traced else lat)[name].append(t2 - t0)
                results.append((name, pdf))
                if traced:
                    status.flush_listeners()
                    tot = totals[layer]
                    tot.stages.add(status.group_counters(group))
                    tot.n += 1
                    tot.build_s += t1 - t0
                    tot.execute_s += t2 - t1
                    tot.cache_peak = max(tot.cache_peak, poller.peak)
                    tot.cache_left += max(0, poller.after - poller.before)
            passes.append(time.perf_counter() - t_pass)
            p += 1
    phase("measure")

    # correctness: every collected result against its oracle
    failed = 0
    for name, pdf in results:
        if pdf is None:
            failed += 1
            continue
        try:
            compare(_Collected(pdf), oracle[name], name)
        except AssertionError as e:
            failed += 1
            errors.append(str(e)[:300])
    phase("verify")

    ctx.details.update(
        host=host_facts(ctx, spark, f"generated, table seed {TABLE_SEED}: " + "; ".join(
            f"sf{sf} {' '.join(sorted(t))}" for t, sf in TABLES)),
        queries=len(results),
        passes_s=[round(x, 3) for x in passes],
        setup_cycles_s=setup["setup_cycles_s"],
        per_query_ms={n: [round(x * 1e3, 1) for x in v] for n, v in lat.items()},
        errors=errors[:10],
        phases_s=phase.done,
    )
    spark.stop()

    per_query = {n: median(v) for n, v in lat.items() if v}
    if ctx.trace:
        metrics = _layer_metrics(ctx, setup, totals, per_query, traced_lat)
    else:
        slowest = sorted(per_query.values())[-max(1, round(len(per_query) * TAIL_SHARE)):]
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "latency_typical_ms": (geomean(per_query.values()) * 1e3, "ms"),
            "latency_tail_ms": (sum(slowest) / len(slowest) * 1e3, "ms"),
            "ops_per_s": (len(per_query) / sum(per_query.values()), "1/s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
        }
    return {"attempted": len(results), "failed": failed, "metrics": metrics}


def _layer_metrics(ctx, setup, totals, per_query, traced_lat) -> dict:
    from layers import PER_LAYER, empty_layer_metrics

    out = empty_layer_metrics()
    out["session.get_session_s"] = setup["session.get_session_s"]
    out["session.warmup_s"] = setup["session.warmup_s"]
    out["session.cold_setup_s"] = setup["session.cold_setup_s"]
    n_all = max(sum(t.n for t in totals.values()), 1)
    out["catalog.load_table_s"] = ctx.tracer.total("catalog.load_table") / n_all
    out["catalog.input_bytes"] = sum(t.stages.input_bytes for t in totals.values()) / n_all
    out["catalog.input_rows"] = sum(t.stages.input_rows for t in totals.values()) / n_all
    for layer, t in totals.items():
        n = max(t.n, 1)
        c = t.stages
        out[f"{layer}.build_s"] = t.build_s / n
        out[f"{layer}.execute_s"] = t.execute_s / n
        out[f"{layer}.jobs"] = c.jobs / n
        out[f"{layer}.tasks"] = c.tasks / n
        out[f"{layer}.shuffle_read_bytes"] = c.shuffle_read_bytes / n
        out[f"{layer}.shuffle_write_bytes"] = c.shuffle_write_bytes / n
        out[f"{layer}.spill_bytes"] = c.spill_bytes / n
        out[f"{layer}.gc_s"] = c.gc_s / n
        busy = t.build_s + t.execute_s
        out[f"{layer}.cpu_busy_share"] = c.cpu_s / (busy * ctx.nproc) if busy else 0.0
        out[f"{layer}.task_skew"] = c.task_skew
    out["llm.cached_bytes_peak"] = totals["llm"].cache_peak
    out["llm.cache_leftover_bytes"] = totals["llm"].cache_left
    self_s = layer_self_seconds(ctx.tracer.spans)
    out["catalog.self_s"] = self_s.get("catalog", 0.0) / n_all
    for layer, t in totals.items():
        out[f"{layer}.self_s"] = self_s.get(layer, 0.0) / max(t.n, 1)
    ratios = [median(traced_lat[q]) / per_query[q] for q in per_query if traced_lat[q]]
    out["trace.overhead_share"] = median(ratios) - 1.0 if ratios else 0.0
    ctx.details["traced_queries"] = n_all
    units = {m["name"]: m["unit"] for m in PER_LAYER}
    return {k: (float(v), units[k]) for k, v in out.items()}
