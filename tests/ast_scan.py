"""The one AST walk the source-policy guards share.

``nodes(root)`` yields ``(file, enclosing top-level function, node)`` for
every AST node of every ``.py`` file under ``root``, ``file`` relative to
``root`` and the function ``""`` at module level. A method's enclosing
top-level function is the method itself; a nested def belongs to the
top-level def around it.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "osm2gtfs_spark"


def file_nodes(path: pathlib.Path, rel: str):
    """``nodes`` for one file, reported under the name ``rel``."""
    tree = ast.parse(path.read_text(), str(path))
    stack: list[tuple[ast.AST, str]] = [(tree, "")]
    while stack:
        node, func = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not func:
            func = node.name
        yield rel, func, node
        stack += [(child, func) for child in ast.iter_child_nodes(node)]


def nodes(root: pathlib.Path = PKG):
    """(file, enclosing top-level function, node) for every AST node."""
    for path in sorted(root.rglob("*.py")):
        yield from file_nodes(path, path.relative_to(root).as_posix())
