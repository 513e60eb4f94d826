"""Query registry contract (registry.py): ``all_queries()`` is every
registered query in registration order, and no committed query name
ever silently disappears."""

from __future__ import annotations

import ast
from pathlib import Path

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


def test_pins_only_through_catalog():
    """One pin discipline: the package persists, checkpoints and frees
    frames only through catalog.pin / checkpoint / release, so every pin
    a query makes is recorded in its pin scope."""
    import re

    pin_call = re.compile(r"\.(persist|localCheckpoint|unpersist)\(|StorageLevel")
    pkg = Path(registry.__file__).parent
    hits = [
        f"{p.relative_to(pkg)}:{i}: {line.strip()}"
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "catalog.py" or p.parent != pkg
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pin_call.search(line)
    ]
    assert not hits, hits


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
    package __init__. Reachability is by name over the AST: a
    definition is reached when reached code names it, and its body
    then reaches further. Module-level statements other than
    definitions run on import and count as roots."""
    repo = Path(__file__).resolve().parents[1]
    pkg = repo / "spark_lever_spark"
    defs: dict[str, tuple[str, ast.AST]] = {}
    roots: list[ast.AST] = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text())
        whole_root = rel == "__init__.py"
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
                if whole_root or rooted:
                    roots.append(stmt)
                else:
                    defs[f"{rel}:{name}"] = (name, stmt)
    for d in ("perfbench", "scripts"):
        for path in sorted((repo / d).rglob("*.py")):
            if "tests" not in path.relative_to(repo / d).parts:
                roots.append(ast.parse(path.read_text()))
    roots.append(ast.parse((repo / "__spark_entry__.py").read_text()))
    frontier = _names_used(roots)
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


# Defaulted parameters kept although the code outside the tests sets
# them only one way, each for its reason. A key is
# "<path under spark_lever_spark/>:<function>.<parameter>"; a method's
# function is "<Class>.<method>".
OPTION_EXEMPT = {
    "session.py:get_session.app_name": "a deployment setting",
    "session.py:get_session.master": "a deployment setting",
    "session.py:get_session.shuffle_partitions": "a deployment setting",
    "llm/multimodal.py:decode_media.decoder": (
        "lets a test substitute a fake decoder for the image library"
    ),
    "streaming/core.py:file_stream.fmt": (
        "its one caller is the benchmark, whose calls change only with it"
    ),
}

_DEFAULT = object()
_VARYING = object()


def _defaulted_options(pkg: Path):
    """Every defaulted parameter of a package function or method, keyed
    by the name a call uses: (key, positional parameter names, {name:
    default source text}). ``Class(...)`` calls ``__init__``, and a
    method's positions skip ``self`` / ``cls``."""
    by_name: dict[str, list] = {}

    def add(rel, fn, call_name, qual, skip):
        a = fn.args
        params = a.posonlyargs + a.args
        defaults = {
            p.arg: ast.unparse(d)
            for p, d in zip(params[len(params) - len(a.defaults):], a.defaults)
        } | {
            p.arg: ast.unparse(d)
            for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        }
        if defaults:
            by_name.setdefault(call_name, []).append(
                (f"{rel}:{qual}", [p.arg for p in params[skip:]], defaults)
            )

    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, ast.FunctionDef):
                add(rel, stmt, stmt.name, stmt.name, 0)
            elif isinstance(stmt, ast.ClassDef):
                for m in stmt.body:
                    if isinstance(m, ast.FunctionDef):
                        static = any(
                            getattr(d, "id", None) == "staticmethod"
                            for d in m.decorator_list
                        )
                        add(
                            rel, m,
                            stmt.name if m.name == "__init__" else m.name,
                            f"{stmt.name}.{m.name}", 0 if static else 1,
                        )
    return by_name


def _called_name(node) -> str | None:
    return getattr(node, "id", None) or getattr(node, "attr", None)


def test_every_option_is_set_two_ways():
    """An option exists only where two callers set it differently: every
    defaulted parameter of a package function or method gets at least
    two distinct values from the call sites outside the tests (the
    package, perfbench/ and scripts/ with their tests aside, and
    __spark_entry__.py), and at least one of them relies on the
    default. Calls match definitions by name over the AST;
    ``functools.partial(f, ...)`` counts as a call of ``f``; an argument
    whose source text equals the default counts as the default, and a
    call with ``*args`` or ``**kwargs`` counts as setting it both ways."""
    repo = Path(__file__).resolve().parents[1]
    options = _defaulted_options(repo / "spark_lever_spark")
    sources = sorted((repo / "spark_lever_spark").rglob("*.py"))
    for d in ("perfbench", "scripts"):
        sources += [
            p for p in sorted((repo / d).rglob("*.py"))
            if "tests" not in p.relative_to(repo / d).parts
        ]
    sources.append(repo / "__spark_entry__.py")
    values: dict[str, set] = {
        f"{key}.{param}": set()
        for entries in options.values()
        for key, _, defaults in entries
        for param in defaults
    }
    assert set(OPTION_EXEMPT) <= set(values), "exempted options no longer exist"
    for path in sources:
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            name, args = _called_name(call.func), call.args
            if name == "partial" and args:
                name, args = _called_name(args[0]), args[1:]
            starred = any(isinstance(a, ast.Starred) for a in args) or any(
                k.arg is None for k in call.keywords
            )
            keywords = {k.arg: k.value for k in call.keywords}
            for key, pos, defaults in options.get(name, ()):
                for param, default in defaults.items():
                    seen = values[f"{key}.{param}"]
                    i = pos.index(param) if param in pos else len(args)
                    arg = args[i] if i < len(args) else keywords.get(param)
                    if starred:
                        seen.add(_VARYING)
                    elif arg is None or ast.unparse(arg) == default:
                        seen.add(_DEFAULT)
                    else:
                        seen.add(ast.unparse(arg))
    single = sorted(
        option
        for option, seen in values.items()
        if option not in OPTION_EXEMPT
        and _VARYING not in seen
        and (len(seen) < 2 or _DEFAULT not in seen)
    )
    assert not single, (
        f"{len(single)} options are set only one way outside the tests "
        f"(fold each into its function, or exempt it with a reason): {single}"
    )
