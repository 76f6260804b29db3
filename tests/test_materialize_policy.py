"""One lineage-cut policy for the whole engine.

Every materialization boundary goes through
``osm2gtfs_spark.session.materialize``, which picks a reliable or a
local checkpoint from the SparkContext's checkpoint dir. This scan
fails on any other cut in ``osm2gtfs_spark/``: a ``localCheckpoint``,
``checkpoint`` or ``cache`` call or a ``setCheckpointDir`` outside the
helper, or a ``persist`` outside the two sites that release their
blocks before they return.
"""

from __future__ import annotations

import ast

from ast_scan import nodes

HELPER = ("session.py", "materialize")
CUTS = {"localCheckpoint", "checkpoint", "cache", "setCheckpointDir"}
# (file, enclosing function): each unpersists in a finally before returning
SCOPED_PERSISTS = {
    ("operators/spatial.py", "convex_hull"),
    ("operators/spatial.py", "simplify_polyline"),
}


def _cut_sites():
    """(file, enclosing top-level function, method, line) of every call
    of a lineage-cut method."""
    for rel, func, node in nodes():
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in CUTS | {"persist"}
        ):
            yield rel, func, node.func.attr, node.lineno


def test_every_lineage_cut_goes_through_materialize():
    sites = list(_cut_sites())
    stray = [
        f"{rel}:{line} {attr} in {func or '<module>'}"
        for rel, func, attr, line in sites
        if (rel, func) not in (SCOPED_PERSISTS if attr == "persist" else {HELPER})
    ]
    assert stray == []
    # the scan is not vacuous: it sees the helper's two cuts and the
    # two scoped persists
    seen = {(rel, func, attr) for rel, func, attr, _ in sites}
    assert {(*HELPER, "checkpoint"), (*HELPER, "localCheckpoint")} <= seen
    assert {(rel, func, "persist") for rel, func in SCOPED_PERSISTS} <= seen
