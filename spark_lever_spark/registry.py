"""Central query registry.

Every operator the engine claims (SURVEY.md §2 inventory) registers a
named query here as a (callable, oracle) pair: a PySpark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a
DuckDB-compatible ANSI-SQL oracle string computing the identical
result (same column names — the correctness check hashes values after
sorting columns by name). A query's domain is the module that defines
it.

The registered callable runs the query in a pin scope
(``catalog.pin_scope``): the persists and checkpoints it makes are
released when it returns, except the checkpoints its frame reads. The
module-level function stays unwrapped, so a query or helper that calls
another query's function pins into its caller's scope.

The registry is what ``__spark_entry__.queries()`` / ``oracle_sql()``
expose to the correctness driver, and what ``perfbench``'s query mix
draws its queries from (by name).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from spark_lever_spark.catalog import pin_scope

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => rows-only check


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return pin_scope(fn, spark, sf_dir)

        _REGISTRY[name] = Query(
            name=name,
            fn=scoped,
            oracle=oracle.strip() if oracle else None,
        )
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Every registered query, in registration order."""
    _ensure_loaded()
    return dict(_REGISTRY)


def query_fns() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imports happen here (not module top) to avoid import cycles:
    # operator modules import `register` from this module.
    from spark_lever_spark.operators import (  # noqa: F401
        tpch,
        relational,
        joins,
        bloom,
        cdc,
        setops,
        rollups,
        windows,
        expressions,
        events,
        layout,
        lever_demo,
        temporal,
        bars,
        alloc,
        actions,
    )
    from spark_lever_spark.llm import (  # noqa: F401
        curation,
        dedup,
        embeddings,
        graph,
        multimodal,
        packing,
        pipeline,
        selection,
        similarity,
        textstats,
    )
    from spark_lever_spark.functions import udfs  # noqa: F401
    from spark_lever_spark.streaming import queries as streaming_queries  # noqa: F401

    _LOADED = True
