"""One hot-key cap for the engine's banded joins.

Every MinHash, SimHash and hyperplane candidate join goes through
``operators/dedup.bucket_pairs``, and every row-count hot-key cap is
``operators/dedup.hot_keys``. This scan fails on a ``left_anti`` join
against ``F.broadcast(...)`` under ``osm2gtfs_spark/operators/`` outside
``bucket_pairs``, ``inverted_index`` (whose stopword cap is a
``hot_keys`` frame) and the listed sites below, each kept for its reason.
"""

from __future__ import annotations

import ast

from ast_scan import PKG, nodes

OPS = PKG / "operators"

ALLOWED = {
    ("dedup.py", "bucket_pairs"): "the one banded candidate join",
    ("corpus_index.py", "inverted_index"): "max_df cap through hot_keys",
    ("dedup.py", "decontaminate"): "counts DISTINCT benchmark ids per shingle, not rows",
    ("spatial.py", "simplify_polyline"): "small/big split needs the big ids on the driver",
}


def _is_broadcast(node: ast.AST) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)) == "broadcast"


def _anti_broadcast_sites():
    """(file, enclosing top-level function, line) of every
    ``x.join(broadcast(...), ..., "left_anti")`` call."""
    for rel, func, node in nodes(OPS):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "join"
            and node.args
            and _is_broadcast(node.args[0])
            and any(
                isinstance(a, ast.Constant) and a.value == "left_anti"
                for a in [*node.args, *(k.value for k in node.keywords)]
            )
        ):
            yield rel, func, node.lineno


def test_hot_key_anti_joins_only_in_the_bucket_helpers():
    sites = list(_anti_broadcast_sites())
    stray = [f"{rel}:{line} in {func or '<module>'}" for rel, func, line in sites if (rel, func) not in ALLOWED]
    assert stray == []
    # the scan is not vacuous: it sees every sanctioned site
    assert set(ALLOWED) <= {(rel, func) for rel, func, _ in sites}
