"""Query registry contract (registry.py): ``all_queries()`` is every
registered query in registration order, and no committed query name
ever silently disappears."""

from __future__ import annotations

import pytest

from spark_lever_spark import registry


def test_all_queries_in_registration_order():
    """all_queries() exposes the registry in registration order, as a
    copy: callers may mutate what they get without touching the
    registry."""
    qs = registry.all_queries()
    assert list(qs) == list(registry._REGISTRY)
    qs.pop(next(iter(qs)))
    assert registry.all_queries().keys() == registry._REGISTRY.keys()


def test_register_rejects_duplicate_names():
    name = next(iter(registry.all_queries()))
    with pytest.raises(ValueError, match="duplicate query name"):
        registry.register(name, oracle=None)(lambda spark, sf_dir: None)


def test_no_silent_deregistration():
    """Every query name ever committed must stay registered — a
    refactor that slices a module (this exact accident deleted
    expr_map_hof in round 6 and nothing failed, because parametrized
    oracle tests collect FROM the registry) must fail loudly here.
    When adding queries, regenerate tests/registry_names.txt:
    python -c "from spark_lever_spark import registry; print('\\n'.join(sorted(registry.all_queries())))" > tests/registry_names.txt
    """
    from pathlib import Path

    committed = set(
        Path(__file__).with_name("registry_names.txt").read_text().split()
    )
    live = set(registry.all_queries())
    missing = committed - live
    assert not missing, f"queries disappeared from the registry: {sorted(missing)}"
    new = live - committed
    assert not new, (
        f"new queries not yet in registry_names.txt (regenerate it): {sorted(new)}"
    )


def test_no_round_named_modules():
    """A query's module names its domain: no registered query lives in a
    module named for the round that added it, and no such file exists
    under spark_lever_spark/ (stale bytecode caches aside)."""
    import re
    from pathlib import Path

    round_named = re.compile(r"round\d")
    modules = {q.fn.__module__ for q in registry.all_queries().values()}
    assert not sorted(m for m in modules if round_named.search(m))
    pkg = Path(registry.__file__).parent
    files = [
        str(p.relative_to(pkg))
        for p in pkg.rglob("*")
        if "__pycache__" not in p.parts and round_named.search(p.name)
    ]
    assert not files, files
