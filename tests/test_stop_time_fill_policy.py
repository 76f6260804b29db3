"""One W6 stop-time fill for the whole engine.

Every creator sets its own timepoints and fills the rest with
``plans/gtfs.interpolate_times_distance``, the one distance-weighted
fill (transitfeed's ``GetTimeInterpolatedStops``). Its distances use
transitfeed's earth radius, so this scan fails on any use or import of
``TRANSITFEED_RADIUS_M`` in ``osm2gtfs_spark/`` outside that function
and ``functions/geo.py`` (which defines it): a second copy of the fill
would need it.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "osm2gtfs_spark"

NAME = "TRANSITFEED_RADIUS_M"
ALLOWED = {("plans/gtfs.py", "interpolate_times_distance")}
DEFINED_IN = "functions/geo.py"


def _uses():
    """(file, enclosing top-level function, line) of every name,
    attribute or import alias that refers to the radius."""
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        stack: list[tuple[ast.AST, str]] = [(tree, "")]
        while stack:
            node, func = stack.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not func:
                func = node.name
            if (
                (isinstance(node, ast.Name) and node.id == NAME)
                or (isinstance(node, ast.Attribute) and node.attr == NAME)
                or (isinstance(node, ast.alias) and NAME in (node.name, node.asname))
            ):
                yield rel, func, getattr(node, "lineno", 0)
            stack += [(child, func) for child in ast.iter_child_nodes(node)]


def test_transitfeed_radius_only_in_the_one_fill():
    uses = list(_uses())
    stray = [
        f"{rel}:{line} in {func or '<module>'}"
        for rel, func, line in uses
        if (rel, func) not in ALLOWED and rel != DEFINED_IN
    ]
    assert stray == []
    # the scan is not vacuous: it sees the fill's own use
    assert ALLOWED <= {(rel, func) for rel, func, _ in uses}
