"""Query registry contract (registry.py): ``all_queries()`` is every
registered query in registration order, and no committed query name
ever silently disappears."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import spark_lever_spark
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


# Definitions kept although no root reaches them, each for its reason.
# A key is "<path under spark_lever_spark/>:<name>", a directory
# ("<dir>/") or a bare name (any module).
REACH_ALLOWLIST = {
    "plans/": "plan-hazard instruments tests/test_plans.py runs over the registry",
    "streaming/harness.py:run_file_batches": "golden-output harness of the streaming tests",
    "__all__": "export lists are read by name strings, not by references",
}


def _names_used(nodes) -> set[str]:
    """Every identifier the code loads or looks up as an attribute; an
    import alone names nothing."""
    used: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
    return used


def _is_registered(stmt) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in stmt.decorator_list
    )


def test_every_package_definition_is_reached():
    """No top-level function, class or constant in spark_lever_spark/
    exists that only tests reach. The roots are the @register queries,
    perfbench/ (its tests aside), scripts/, __spark_entry__.py and the
    package __init__ with its __all__. Reachability is by name over the
    AST: a definition is reached when reached code names it, and its
    body then reaches further. Module-level statements other than
    definitions run on import and count as roots."""
    repo = Path(__file__).resolve().parents[1]
    pkg = repo / "spark_lever_spark"
    defs: dict[str, tuple[str, ast.AST]] = {}
    roots: list[ast.AST] = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text())
        whole_root = rel == "__init__.py" or any(
            rel.startswith(k) for k in REACH_ALLOWLIST if k.endswith("/")
        )
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                named = [stmt.name]
                rooted = _is_registered(stmt)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = (
                    stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                )
                named = [
                    n.id for t in targets for n in ast.walk(t)
                    if isinstance(n, ast.Name)
                ]
                rooted = False
            else:
                roots.append(stmt)
                continue
            for name in named:
                key = f"{rel}:{name}"
                if whole_root or rooted or key in REACH_ALLOWLIST or (
                    name in REACH_ALLOWLIST
                ):
                    roots.append(stmt)
                else:
                    defs[key] = (name, stmt)
    for d in ("perfbench", "scripts"):
        for path in sorted((repo / d).rglob("*.py")):
            if "tests" not in path.relative_to(repo / d).parts:
                roots.append(ast.parse(path.read_text()))
    roots.append(ast.parse((repo / "__spark_entry__.py").read_text()))
    frontier = _names_used(roots) | set(spark_lever_spark.__all__)
    by_name: dict[str, list[str]] = {}
    for key, (name, _) in defs.items():
        by_name.setdefault(name, []).append(key)
    reached: set[str] = set()
    seen: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in seen:
            continue
        seen.add(name)
        for key in by_name.get(name, ()):
            reached.add(key)
            frontier |= _names_used([defs[key][1]])
    unreached = sorted(set(defs) - reached)
    assert not unreached, f"only tests reach these definitions: {unreached}"
