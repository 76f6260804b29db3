"""Every package function is reached from an entry point.

An AST scan of ``osm2gtfs_spark/`` that fails on any top-level function,
class or method no entry point reaches. The roots are:

- every ``@register`` query in ``plans/queries.py``;
- ``cli.main`` and ``osm2gtfs_spark/__main__.py``;
- every module-level statement of the package (stage tables, layouts,
  constants);
- every name and every string constant in ``__spark_entry__.py``,
  ``bench.py``, ``bench_extra.py``, ``tools/*.py`` and
  ``perfbench/*.py``. Strings count because the perfbench tracer wraps
  functions by name.

From there the scan follows, by bare name, every name, attribute and
identifier-like string constant in each reached def's body. A reached
class reaches its dunder methods, which Python calls implicitly; every
other method is reached by its bare name, like a function. That
over-approximates: a live function is never flagged, but a dead one
that shares a name with a live one is missed. Test-only helpers belong
in the test module that uses them. ``ALLOWED`` lists the unreached
functions kept on purpose; the scan also fails when one of them becomes
reachable or is gone.
"""

from __future__ import annotations

import ast
import re

from ast_scan import PKG, REPO, file_nodes, nodes

ENTRY_SCRIPTS = ("__spark_entry__.py", "bench.py", "bench_extra.py", "tools/*.py", "perfbench/*.py")

ALLOWED = {
    "plans.gtfs.auto_stop_names": (
        "the reference's stops.name_auto (J9); the CLI ignores that key, and wiring it in "
        "could move the Accra golden zip, whose fixtures are not in the repository"
    ),
    "streaming.tile_ingest.compact_state": (
        "maintenance call for a long-running tile ingest: without it the read-side "
        "merge grows with every batch"
    ),
    "streaming.cdc.compact_snapshot": (
        "maintenance call for a long-running CDC ingest: without it the read-side "
        "merge grows with every batch"
    ),
}

_NAME_STRING = re.compile(r"[A-Za-z_][\w.:]*")
_DUNDER = re.compile(r"__\w+__")


def _refs(tree_nodes):
    """({(file, top-level function or method): names its body references},
    {(file, unit): the bodies it reaches}, {alias: original names}); a
    unit is a top-level def, a class (its dunder methods) or a method
    (``Class.method``). Module-level code is keyed by the function
    ``""``; docstrings are not references."""
    refs: dict[tuple[str, str], set[str]] = {}
    units: dict[tuple[str, str], set[str]] = {}
    aliases: dict[str, set[str]] = {}
    docstrings: set[int] = set()
    for rel, func, node in tree_nodes:
        names = refs.setdefault((rel, func), set())
        if isinstance(node, ast.Module):
            for top in node.body:
                if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    units[rel, top.name] = {top.name}
                elif isinstance(top, ast.ClassDef):
                    methods = [d.name for d in top.body if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef))]
                    units[rel, top.name] = {m for m in methods if _DUNDER.fullmatch(m)}
                    units.update({(rel, f"{top.name}.{m}"): {m} for m in methods if not _DUNDER.fullmatch(m)})
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            doc = node.body[0] if node.body else None
            if isinstance(doc, ast.Expr) and isinstance(doc.value, ast.Constant):
                docstrings.add(id(doc.value))
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias) and node.asname:
            aliases.setdefault(node.asname, set()).add(node.name.rsplit(".", 1)[-1])
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
            and _NAME_STRING.fullmatch(node.value)
        ):
            names.update(filter(None, re.split(r"[.:]", node.value)))
    return refs, units, aliases


def _registered(tree_nodes):
    """(file, name) of every def decorated with ``register`` or ``register(...)``."""
    for rel, func, node in tree_nodes:
        if isinstance(node, ast.FunctionDef) and node.name == func:
            for dec in node.decorator_list:
                callee = dec.func if isinstance(dec, ast.Call) else dec
                if isinstance(callee, ast.Name) and callee.id == "register":
                    yield rel, func


def _qualified(rel: str, name: str) -> str:
    module = rel.removesuffix(".py").removesuffix("/__init__").replace("/", ".")
    return f"{module}.{name}"


def _reachability():
    """(every package unit, the reached ones, the root names); a unit is
    a top-level function, class or method, as (file, name)."""
    pkg_nodes = list(nodes(PKG))
    refs, units, aliases = _refs(pkg_nodes)
    by_name: dict[str, set[tuple[str, str]]] = {}
    for rel, name in units:
        by_name.setdefault(name.rsplit(".", 1)[-1], set()).add((rel, name))

    script_nodes = [
        n for pattern in ENTRY_SCRIPTS for path in sorted(REPO.glob(pattern))
        for n in file_nodes(path, path.relative_to(REPO).as_posix())
    ]
    script_refs, _, script_aliases = _refs(script_nodes)
    for alias, originals in script_aliases.items():
        aliases.setdefault(alias, set()).update(originals)
    root_names = set().union(*script_refs.values())
    root_names |= set().union(*(names for (rel, func), names in refs.items() if not func))

    reached: set[tuple[str, str]] = set()
    todo = set(root_names)

    def reach(unit):
        if unit not in reached:
            reached.add(unit)
            todo.update(*(refs[unit[0], body] for body in units[unit]))

    for unit in [("cli.py", "main"), *_registered(pkg_nodes)]:
        reach(unit)
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo |= aliases.get(name, set()) - seen
            for unit in by_name.get(name, ()):
                reach(unit)
    return set(units), reached, root_names


def test_every_package_function_is_reached():
    units, reached, root_names = _reachability()
    qualified = {_qualified(*u): u for u in units}
    unreached = sorted(q for q, u in qualified.items() if u not in reached)
    stray = [q for q in unreached if q not in ALLOWED]
    assert stray == [], f"no entry point reaches {stray}: delete them, move them into tests/ or allow-list them"
    assert sorted(q for q in ALLOWED if q not in qualified) == [], "allow-listed name is gone"
    assert sorted(q for q in ALLOWED if qualified[q] in reached) == [], "allow-listed name is reached"
    # the scan is not vacuous: the registry, the CLI and the scripts are
    # roots, and the closure reaches through them into the operators
    assert sum(1 for rel, _ in reached if rel == "plans/queries.py") > 100
    assert {"queries", "run", "wrap"} <= root_names
    assert {("operators/spatial.py", "ring_candidates"), ("sources/gtfs_sink.py", "_write_csv")} <= reached
