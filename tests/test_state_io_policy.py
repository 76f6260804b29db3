"""One home each for partitioned-state writes, missing-path reads and
streaming drains.

An AST scan of ``osm2gtfs_spark/`` that fails when:

- any code calls ``<x>.conf.set(...)``: a process-wide session conf
  flip leaks into every other write in the session;
- the overwrite-mode key or the missing-path error condition appears
  outside ``sources/checkpoint.write_partitioned`` and
  ``sources/checkpoint.read_if_exists``;
- a ``trigger(availableNow=...)`` call or ``awaitTermination`` appears
  outside ``streaming/drain.py``, so every bounded drain keeps the one
  stop-and-raise timeout contract.
"""

from __future__ import annotations

import ast

from ast_scan import nodes

# string marker -> the one (file, top-level function) allowed to hold it
STATE_MARKERS = {
    "partitionOverwriteMode": ("sources/checkpoint.py", "write_partitioned"),
    "PATH_NOT_FOUND": ("sources/checkpoint.py", "read_if_exists"),
}
DRAIN_FILE = "streaming/drain.py"


def test_state_io_and_drains_have_one_home():
    conf_sets, stray, seen = [], [], set()
    for rel, func, node in nodes():
        where = f"{rel}:{getattr(node, 'lineno', 0)} in {func or '<module>'}"
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "set"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            conf_sets.append(where)
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            for marker, home in STATE_MARKERS.items():
                if marker in node.value:
                    seen.add(marker)
                    if (rel, func) != home:
                        stray.append(f"{marker} at {where}")
        drain_site = None
        if isinstance(node, ast.Attribute) and node.attr == "awaitTermination":
            drain_site = "awaitTermination"
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "trigger"
            and any(kw.arg == "availableNow" for kw in node.keywords)
        ):
            drain_site = "trigger(availableNow=...)"
        if drain_site:
            seen.add(drain_site)
            if rel != DRAIN_FILE:
                stray.append(f"{drain_site} at {where}")
    assert conf_sets == []
    assert stray == []
    # the scan is not vacuous: it sees every allowed site
    assert seen == set(STATE_MARKERS) | {"awaitTermination", "trigger(availableNow=...)"}
