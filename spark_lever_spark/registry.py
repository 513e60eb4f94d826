"""Central query registry.

Every operator the engine claims (SURVEY.md §2 inventory) registers a
named query here as a (callable, oracle) pair: a PySpark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a
DuckDB-compatible ANSI-SQL oracle string computing the identical
result (same column names — the correctness check hashes values after
sorting columns by name). A query's domain is the module that defines
it.

The registry is what ``__spark_entry__.queries()`` / ``oracle_sql()``
expose to the correctness driver, and what ``perfbench``'s query mix
draws its queries from (by name).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

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
        _REGISTRY[name] = Query(
            name=name,
            fn=fn,
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
