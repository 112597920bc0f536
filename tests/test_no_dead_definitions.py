"""Every top-level definition in the engine package has a caller in product code.

Product code is every ``.py`` file outside ``tests/`` and ``perfbench/tests/``:
the package, ``server.py``, ``cli.py``, ``tools/``, the benchmark harnesses
and ``perfbench/``. A test is not a caller, so a capability only its test
exercises must get a product caller or go.

A definition is a top-level ``def`` or ``class``, or a module-level
assignment to a non-dunder name. Queries registered with ``@_q`` are exempt:
the registry reaches them by decoration, not by name.

Only code counts as a reference: a loaded ``Name``, an ``Attribute``'s
attribute, or an imported name. Docstrings, comments, strings and
``__all__`` never count. A definition is used when some reached code names
it; reached code is every product statement outside a package definition,
plus the bodies of the definitions it reaches, transitively. A definition's
references inside its own body therefore never keep it alive, and neither
do those of definitions that are themselves unused.

Names are matched without their module, so two definitions that share a
name live or die together, and a module-level import in a package module
counts where it stands, used or not; both only ever keep too much.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "riot_graphs_spark/"
TEST_DIRS = ("tests/", "perfbench/tests/")

# Definitions kept without a product caller, each with the reason it stays.
ALLOWLIST = {
    # ROADMAP direction 1 wires the pr_events table into /update.
    "riot_graphs_spark/plans/riot.py:pr_events_from_commits":
        "direction 1: pr_events joins /update",
    "riot_graphs_spark/plans/riot.py:nightly_builds":
        "direction 1: pr_events joins /update",
    "riot_graphs_spark/sources/commits.py:parse_commit_log":
        "direction 1: pr_events joins /update",
    "riot_graphs_spark/schemas.py:PR_EVENTS":
        "direction 1: pr_events joins /update",
    "riot_graphs_spark/schemas.py:COMMITS":
        "direction 1: pr_events joins /update",
    "riot_graphs_spark/schemas.py:PRS":
        "direction 1: pr_events joins /update",
    # ROADMAP direction 3 merges stored partials.
    "riot_graphs_spark/operators/rollup.py:upsert_partials":
        "direction 3: partial aggregates",
    # Scalar references that test_multimodal compares the batch kernels to.
    "riot_graphs_spark/operators/multimodal.py:_phash64":
        "reference for the batch pHash kernel",
    "riot_graphs_spark/operators/multimodal.py:_audio_fingerprint":
        "reference for the batch audio fingerprint kernel",
    # Trains the codebooks test_pq's recall tests feed to pq_topk/ivfpq_topk.
    "riot_graphs_spark/operators/similarity.py:pq_fit":
        "trains codebooks for the live pq_topk/ivfpq_topk",
}


def _is_test(path: str) -> bool:
    return path.startswith(TEST_DIRS)


def _registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(fn, ast.Name) and fn.id == "_q":
            return True
    return False


def _names_defined(node: ast.stmt) -> list[str] | None:
    """Names a top-level statement defines, or None when it defines none.

    An empty list marks a statement that is ignored outright: an assignment
    to dunders only, such as ``__all__``.
    """
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        names = [
            t.id
            for target in targets
            for t in ast.walk(target)
            if isinstance(t, ast.Name) and isinstance(t.ctx, ast.Store)
        ]
        if names:
            return [n for n in names if not n.startswith("__")]
    return None


def _references(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name)
    return out


def scan(
    sources: dict[str, str], allowlist=()
) -> tuple[set[str], set[str], set[str]]:
    """Return (defined, unreached, reached without the allowlist).

    ``sources`` maps repository-relative paths to file text; test files are
    ignored. Every result holds ``"path:name"`` keys of package definitions.
    Allowlisted definitions are roots for the first two results, so the
    helpers they call stay reached.
    """
    roots: set[str] = set()
    bodies: dict[str, set[str]] = {}  # definition key -> names it references
    by_name: dict[str, list[str]] = {}
    for path, text in sources.items():
        if _is_test(path):
            continue
        tree = ast.parse(text, path)
        if not path.startswith(PACKAGE):
            roots |= _references(tree)
            continue
        for node in tree.body:
            names = _names_defined(node)
            if names is None or _registered(node):
                roots |= _references(node)
                continue
            refs = _references(node)
            for name in names:
                key = f"{path}:{name}"
                bodies[key] = refs
                by_name.setdefault(name, []).append(key)

    def reach(seed_keys) -> set[str]:
        reached = set(seed_keys)
        todo = set(roots).union(*(bodies[k] for k in reached))
        seen: set[str] = set()
        while todo:
            name = todo.pop()
            seen.add(name)
            for key in by_name.get(name, ()):
                if key not in reached:
                    reached.add(key)
                    todo |= bodies[key] - seen
        return reached

    kept = [k for k in allowlist if k in bodies]
    live = reach(kept)
    return set(bodies), set(bodies) - live, reach(())


def _repo_sources() -> dict[str, str]:
    sources = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith((".", "__pycache__"))]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                rel = os.path.relpath(path, ROOT).replace(os.sep, "/")
                with open(path, encoding="utf-8") as fh:
                    sources[rel] = fh.read()
    return sources


def problems(sources: dict[str, str], allowlist: dict[str, str]) -> list[str]:
    defined, unreached, reached = scan(sources, allowlist)
    out = [f"no product caller: {k}" for k in sorted(unreached)]
    for key in sorted(allowlist):
        if key not in defined:
            out.append(f"allowlisted but not defined: {key}")
        elif key in reached:
            out.append(f"allowlisted but has a product caller: {key}")
    return out


def test_every_top_level_definition_is_referenced():
    found = problems(_repo_sources(), ALLOWLIST)
    assert not found, "\n".join(found)


# The scanner on small in-memory trees.

_PKG = "riot_graphs_spark/m.py"


def test_prose_and_all_do_not_count_as_callers():
    pkg = (
        "__all__ = ['quiet']\n"
        "def quiet():\n    pass\n"
        "def loud():\n    '''Unlike quiet(), this one is called.'''\n"
        "    # quiet\n    return 'quiet'\n"
    )
    sources = {_PKG: pkg, "server.py": "from riot_graphs_spark.m import loud\n"}
    assert problems(sources, {}) == [
        f"no product caller: {_PKG}:quiet"
    ]


def test_tests_do_not_count_as_callers():
    pkg = "LIMIT = 3\ndef helper():\n    return LIMIT\n"
    sources = {
        _PKG: pkg,
        "tests/test_m.py": "from riot_graphs_spark.m import helper\nhelper()\n",
        "perfbench/tests/test_p.py": "import riot_graphs_spark.m as m\nm.LIMIT\n",
    }
    assert problems(sources, {}) == [
        f"no product caller: {_PKG}:LIMIT",
        f"no product caller: {_PKG}:helper",
    ]


def test_an_unused_caller_does_not_keep_its_callees():
    pkg = (
        "def leaf():\n    return 1\n"
        "def mid():\n    return leaf()\n"
        "def top():\n    return mid() + top()\n"
    )
    assert problems({_PKG: pkg}, {}) == [
        f"no product caller: {_PKG}:leaf",
        f"no product caller: {_PKG}:mid",
        f"no product caller: {_PKG}:top",
    ]
    assert problems({_PKG: pkg, "cli.py": "import m\nm.top()\n"}, {}) == []


def test_an_allowlisted_definition_passes_and_keeps_its_helpers():
    pkg = "def _helper():\n    return 1\ndef kept():\n    return _helper()\n"
    assert problems({_PKG: pkg}, {f"{_PKG}:kept": "reason"}) == []


def test_an_allowlist_entry_whose_definition_is_gone_fails():
    assert problems({_PKG: "X = 1\nY = X\n", "cli.py": "Y\n"},
                  {f"{_PKG}:kept": "reason"}) == [
        f"allowlisted but not defined: {_PKG}:kept"
    ]


def test_an_allowlist_entry_with_a_product_caller_fails():
    pkg = "def kept():\n    return 1\n"
    sources = {_PKG: pkg, "tools/t.py": "from riot_graphs_spark.m import kept\n"}
    assert problems(sources, {f"{_PKG}:kept": "reason"}) == [
        f"allowlisted but has a product caller: {_PKG}:kept"
    ]


def test_registered_queries_are_exempt_and_their_bodies_count():
    pkg = (
        "def _q(f):\n    return f\n"
        "def _body():\n    return 1\n"
        "@_q\ndef some_query():\n    return _body()\n"
    )
    assert problems({_PKG: pkg}, {}) == []
