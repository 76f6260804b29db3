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

from ast_scan import nodes

NAME = "TRANSITFEED_RADIUS_M"
ALLOWED = {("plans/gtfs.py", "interpolate_times_distance")}
DEFINED_IN = "functions/geo.py"


def _uses():
    """(file, enclosing top-level function, line) of every name,
    attribute or import alias that refers to the radius."""
    for rel, func, node in nodes():
        if (
            (isinstance(node, ast.Name) and node.id == NAME)
            or (isinstance(node, ast.Attribute) and node.attr == NAME)
            or (isinstance(node, ast.alias) and NAME in (node.name, node.asname))
        ):
            yield rel, func, getattr(node, "lineno", 0)


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
