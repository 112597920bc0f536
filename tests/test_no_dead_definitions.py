"""Every top-level ``def`` and ``class`` in the engine package is used.

A definition counts as used when its name occurs as an identifier in some
``.py`` file of the repository outside the lines of the definition itself.
Tests count as users, so a capability exercised only by its test stays.
Queries registered with ``@_q`` are exempt: the registry reaches them by
decoration, not by name.

Identifiers are counted once over the whole tree (one ``\\w+`` scan into a
Counter); each definition then subtracts what its own lines contribute.
A scan per name is quadratic and takes minutes on this tree.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "riot_graphs_spark")
_IDENT = re.compile(r"\w+")


def _py_files() -> list[str]:
    out = []
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith((".", "__pycache__"))]
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return out


def _registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(fn, ast.Name) and fn.id == "_q":
            return True
    return False


def test_every_top_level_definition_is_referenced():
    sources = {}
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            sources[path] = fh.read()
    counts = Counter()
    for text in sources.values():
        counts.update(_IDENT.findall(text))

    unused = []
    for path, text in sources.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        lines = text.splitlines()
        for node in ast.parse(text, path).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or _registered(node):
                continue
            first = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            own = "\n".join(lines[first - 1: node.end_lineno])
            if counts[node.name] - _IDENT.findall(own).count(node.name) <= 0:
                unused.append(f"{os.path.relpath(path, ROOT)}:{node.name}")
    assert not unused, f"defined but referenced nowhere: {sorted(unused)}"
