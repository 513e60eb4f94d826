"""Parse `explain("formatted")` for plan-shape assertions.

The engine delegates its physical layer to Catalyst (the reference
hand-built Exchange.scala, SparkStrategies.scala, ParquetFilters.scala),
so the tests assert that those mechanics engaged: filters pushed to the
scan, columns pruned, small dims broadcast, no redundant shuffles,
operators inside whole-stage codegen (SURVEY.md §4).

Each helper answers one scale-critical question (reference parity:
ParquetFilters.scala row-group pushdown, SparkStrategies.scala:68-110
broadcast choice, Exchange.scala:35-183 shuffle insertion,
GeneratedAggregate.scala codegen):

- did predicates reach the parquet scan? (`pushed_filters`)
- did column pruning reach the scan? (`scan_read_schema`)
- how many shuffles does the plan pay? (`exchange_count`)
- broadcast vs shuffle join? (`broadcast_join_count` / `shuffle_join_count`)
- how much of the plan runs in whole-stage codegen?

``PinAudit`` answers one more: what did a block of code leave pinned
that the frame it returned does not read?
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters the parquet scan will evaluate at row-group level
    (shows as `PushedFilters: [IsNotNull(x), GreaterThan(x,5)]`)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in re.split(r",(?![^()]*\))", body))
    return out


def scan_read_schema(df: DataFrame) -> list[list[str]]:
    """Column sets actually read by each file scan (column pruning)."""
    schemas: list[list[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        body = m.group(1)
        cols = [c.split(":")[0].strip() for c in body.split(",") if c.strip()]
        schemas.append(cols)
    return schemas


def _op_count(df: DataFrame, pattern: str) -> int:
    """Count operators via their detail-section headers `(N) OpName` —
    the tree rendering repeats every node, so matching bare op names
    double-counts."""
    return len(re.findall(rf"^\(\d+\) (?:{pattern})\b", formatted_plan(df), re.M))


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (reference Exchange.scala inserts
    these; every one is a full network+disk barrier at scale)."""
    return _op_count(df, "Exchange")


def broadcast_join_count(df: DataFrame) -> int:
    return _op_count(df, "BroadcastHashJoin|BroadcastNestedLoopJoin")


def shuffle_join_count(df: DataFrame) -> int:
    return _op_count(df, "SortMergeJoin|ShuffledHashJoin")


def nested_loop_join_count(df: DataFrame) -> int:
    """BroadcastNestedLoopJoin occurrences — the quadratic fallback
    Catalyst picks for non-equi conditions. Any operator claiming a
    'bucketed' or 'windowed' rewrite of an inequality join must show
    zero of these."""
    return _op_count(df, "BroadcastNestedLoopJoin|CartesianProduct")


def wholestage_codegen_count(df: DataFrame) -> int:
    """Whole-stage-codegen subtrees (wider/fewer is better: fewer
    virtual-call boundaries; subsumes the reference's expression codegen
    GeneratedAggregate.scala:45-284). Uses the `codegen` explain mode,
    which compiles the plan pre-execution — the formatted mode only
    labels codegen inside AQE's *final* plan."""
    s = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), "codegen"
    )
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", s)
    n = int(m.group(1)) if m else 0
    if n == 0 and "AdaptiveSparkPlan" in formatted_plan(df):
        # AQE reports 0 until the plan is final — execute, then read
        # codegen labels off the final adaptive plan
        df.collect()
        # final adaptive plan marks codegen stages as `[codegen id : N]`
        n = len(set(re.findall(r"\[codegen id : (\d+)\]", formatted_plan(df))))
    return n


def _simple(node) -> str:
    return node.getClass().getSimpleName()


def _inspected_plan(df: DataFrame):
    """The physical plan the hazard checks walk: the executed plan, or
    AQE's initial plan when adaptive execution wraps it."""
    plan = df._jdf.queryExecution().executedPlan()
    if _simple(plan) == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    return plan


def _is_file_scan(node) -> bool:
    name = _simple(node)
    return "FileSourceScan" in name or "RowDataSourceScan" in name


def has_file_scan(df: DataFrame) -> bool:
    """True if the inspected plan reaches a file (or JDBC) scan leaf.
    An eagerly computed frame (a ``LogicalRDD``/``ExistingRDD``, e.g.
    after ``localCheckpoint``) hides its scans, so the hazard checks
    see nothing below it."""

    def walk(node) -> bool:
        if _is_file_scan(node):
            return True
        ch = node.children()
        return any(walk(ch.apply(i)) for i in range(ch.size()))

    return walk(_inspected_plan(df))


def _scan_without_aggregate(node) -> bool:
    """True if some path below reaches a file scan without crossing an
    aggregation — i.e. the subtree ships RAW table rows."""
    name = _simple(node)
    if "Aggregate" in name:  # Hash/Sort/ObjectHashAggregateExec
        return False
    if _is_file_scan(node):
        return True
    ch = node.children()
    return any(
        _scan_without_aggregate(ch.apply(i)) for i in range(ch.size())
    )


_PASSTHROUGH = {
    "ProjectExec",
    "FilterExec",
    "SortExec",
    "InputAdapter",
    "WholeStageCodegenExec",
    "CoalesceExec",
}


def single_partition_scale_hazards(df: DataFrame) -> list[str]:
    """Scale-killer detector (the doctrine behind operators/grank.py,
    applied mechanically): find every Sort/Window operator fed —
    through unary pass-through nodes — by an ``Exchange
    SinglePartition`` whose subtree ships RAW (un-aggregated) table
    rows. Such a plan funnels the whole table through ONE task and
    dies at the executor memory wall at scale. Global single-row
    aggregates (exchange feeds an Aggregate), presentation sorts
    (range partitioning), and windows over pre-aggregated domains are
    all legitimate and not flagged."""
    plan = _inspected_plan(df)
    hazards: list[str] = []

    def feeding_exchange(node):
        cur = node
        while True:
            ch = cur.children()
            if ch.size() != 1:
                return None
            c = ch.apply(0)
            cn = _simple(c)
            if cn == "ShuffleExchangeExec":
                return c
            if cn in _PASSTHROUGH:
                cur = c
                continue
            return None

    def walk(node):
        name = _simple(node)
        if name in ("SortExec", "WindowExec", "WindowGroupLimitExec"):
            ex = feeding_exchange(node)
            if (
                ex is not None
                and "SinglePartition" in ex.outputPartitioning().toString()
                and _scan_without_aggregate(ex)
            ):
                hazards.append(
                    f"{name} fed by SinglePartition exchange over raw scan"
                )
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(plan)
    return hazards


def nested_loop_hazards(df: DataFrame) -> list[str]:
    """Registry-wide companion to single_partition_scale_hazards:
    report every BroadcastNestedLoopJoin / CartesianProduct whose
    broadcast (or either, for cartesian) side is NOT derived from an
    aggregation — i.e. a quadratic join over raw rows. The sanctioned
    shapes pass automatically (scalar attach: 1-row aggregate
    broadcast; bounds/offset frames: aggregate-derived); deliberately
    bounded raw-side broadcasts (a filtered probe batch) must be
    whitelisted BY NAME in the oracle test so any new accidental
    nested loop fails loudly."""
    plan = _inspected_plan(df)
    out: list[str] = []

    def agg_derived(node) -> bool:
        return not _scan_without_aggregate(node)

    def walk(node):
        name = _simple(node)
        if name == "BroadcastNestedLoopJoinExec":
            ch = node.children()
            sides = [ch.apply(i) for i in range(ch.size())]
            # pass if ANY side is aggregate-derived (scalar/bounds
            # attach); raw x raw is the hazard
            if not any(agg_derived(s) for s in sides):
                out.append("BroadcastNestedLoopJoin over raw sides")
        elif name == "CartesianProductExec":
            out.append("CartesianProduct")
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(plan)
    return out


def rdds_read_by(df: DataFrame) -> set[int]:
    """The ids of the RDDs that ``LogicalRDD`` nodes of ``df``'s
    analyzed plan read, subquery plans included: a walk over every
    node, written apart from the engine's own leaf read."""
    ids: set[int] = set()
    todo = [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if _simple(node) == "LogicalRDD":
            ids.add(node.rdd().id())
        for seq in (node.children(), node.subqueries()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
    return ids


class PinAudit:
    """What a block of code leaves pinned: make one before the block,
    call ``stray(*frames)`` after it. Runs no GC."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc
        self._cache = spark._jsparkSession.sharedState().cacheManager()
        self._rdds = set(self._jsc.getPersistentRDDs())
        self._entries = self._cache.numCachedEntries()

    def stray(self, *frames: DataFrame) -> list[str]:
        """The RDDs the block added to the context's persistent set
        (caches and checkpoints) that no ``frames`` plan reads, and the
        entries it added to the CacheManager."""
        left = set(self._jsc.getPersistentRDDs()) - self._rdds
        if left:
            left -= set().union(*(rdds_read_by(f) for f in frames))
        out = [f"rdd {i}" for i in sorted(left)]
        gained = self._cache.numCachedEntries() - self._entries
        if gained > 0:
            out.append(f"{gained} cache entries")
        return out
