"""One cell-ring join for the whole engine.

Every cell-bucketed candidate join goes through
``operators/spatial.ring_candidates`` and every cell-neighbourhood
scatter through ``operators/spatial.ring_neighbors``. This scan fails on
a ``cell_ring`` call in ``osm2gtfs_spark/`` outside those two helpers and
``functions/geo.py`` (which defines it), and on a
``_map_parallelism_floor`` call outside the three fanouts that own the
floor: the ring join's probe side and the two segment rasterizers.
"""

from __future__ import annotations

import ast

from ast_scan import nodes

ALLOWED = {
    "cell_ring": {
        ("operators/spatial.py", "ring_candidates"),
        ("operators/spatial.py", "ring_neighbors"),
    },
    "_map_parallelism_floor": {
        ("operators/spatial.py", "ring_candidates"),
        ("operators/spatial.py", "polyline_cell_coverage"),
        ("operators/spatial.py", "_segment_cells"),
    },
}
DEFINED_IN = {"cell_ring": "functions/geo.py"}


def _call_sites():
    """(file, enclosing top-level function, callee, line) of every call
    of a guarded function, by bare name or as an attribute."""
    for rel, func, node in nodes():
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name in ALLOWED:
                yield rel, func, name, node.lineno


def test_cell_ring_and_floor_only_in_the_ring_helpers():
    sites = list(_call_sites())
    stray = [
        f"{rel}:{line} {name} in {func or '<module>'}"
        for rel, func, name, line in sites
        if (rel, func) not in ALLOWED[name] and rel != DEFINED_IN.get(name)
    ]
    assert stray == []
    # the scan is not vacuous: it sees every sanctioned call site
    seen = {(rel, func, name) for rel, func, name, _ in sites}
    assert {(rel, func, name) for name, ok in ALLOWED.items() for rel, func in ok} <= seen
