"""The ``__spark_entry__`` contract: ``queries()`` names every registered
query, ``oracle_sql()`` carries each query's own oracle, and
``entry(spark)`` returns rows."""

from __future__ import annotations

from pathlib import Path

import __spark_entry__ as entry_mod
from spark_lever_spark import registry


def test_queries_names_match_committed_registry():
    committed = set(
        Path(__file__).with_name("registry_names.txt").read_text().split()
    )
    assert set(entry_mod.queries()) == committed


def test_oracle_sql_is_each_querys_oracle():
    qs = entry_mod.queries()
    registered = registry.all_queries()
    for name, sql in entry_mod.oracle_sql().items():
        assert name in qs, name
        assert sql == registered[name].oracle, name


def test_entry_returns_rows(spark):
    assert entry_mod.entry(spark).count() > 0
