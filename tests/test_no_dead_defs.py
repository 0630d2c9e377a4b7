"""Guard against dead code regrowing in the kernel and operator layers.

Every top-level ``def`` in ``functions/`` and ``operators/`` must be
referenced somewhere in the repo outside its own body: as a bare name,
as an attribute (``G.compass_bearing``) or in an import. Tests count as
references, because a scalar kernel that only a test oracle calls is
still a legitimate reference implementation. No Spark session needed.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "osm_admin_boundary_conflation_spark"
LAYERS = ("functions", "operators")


def _py_files(root: str):
    for d, subdirs, files in os.walk(root):
        subdirs[:] = [s for s in subdirs if not s.startswith(".") and s != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _referenced_names(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Names, attribute names and imported names used in ``tree``,
    ignoring everything inside the node ``skip``."""
    out: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
        stack.extend(ast.iter_child_nodes(node))
    return out


def unreferenced_defs(root: str = ROOT) -> list[str]:
    trees = {}
    for path in _py_files(root):
        with open(path, encoding="utf-8") as fh:
            trees[path] = ast.parse(fh.read(), filename=path)
    # names used anywhere, keyed by file, so a def's own file can be
    # rescanned with the def itself masked out
    used_elsewhere: dict[str, set[str]] = {
        p: _referenced_names(t) for p, t in trees.items()
    }
    dead = []
    for layer in LAYERS:
        layer_dir = os.path.join(root, PKG, layer)
        for path in sorted(trees):
            if os.path.dirname(path) != layer_dir:
                continue
            tree = trees[path]
            for node in tree.body:
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                name = node.name
                found = name in _referenced_names(tree, skip=node) or any(
                    name in names for p, names in used_elsewhere.items() if p != path
                )
                if not found:
                    dead.append(f"{layer}/{os.path.basename(path)}:{name}")
    return dead


def test_every_layer_def_is_referenced():
    dead = unreferenced_defs()
    assert dead == [], f"top-level defs nothing references: {dead}"
