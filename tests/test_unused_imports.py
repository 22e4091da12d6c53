"""Every module-level import in the package is used.

A stdlib-``ast`` scan, no Spark: a name bound by a top-level ``import``
or ``from ... import`` must be read somewhere in its module, be listed
in ``__all__``, or carry a ``# noqa`` on its line (an import kept for
its side effect, such as registering queries)."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kafka_map_reduce_spark",
)


def _unused(path: str) -> list[str]:
    with open(path) as fh:
        src = fh.read()
    tree = ast.parse(src, path)
    lines = src.splitlines()
    bound = {}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if "noqa" in "".join(lines[node.lineno - 1 : node.end_lineno]):
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            bound[name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {e.value for e in node.value.elts}
    return [f"{name} (line {ln})" for name, ln in bound.items() if name not in used]


def test_no_unused_module_level_imports():
    found = {}
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                bad = _unused(path)
                if bad:
                    found[os.path.relpath(path, PKG)] = bad
    assert not found, found
