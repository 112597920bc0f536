"""Every top-level definition in the engine package has a caller in product
code, and every option it offers is one that product code varies.

Product code is every ``.py`` file outside ``tests/`` and ``perfbench/tests/``:
the package, ``server.py``, ``cli.py``, ``tools/``, the benchmark harnesses
and ``perfbench/``. A test is not a caller, so a capability only its test
exercises must get a product caller or go.

A definition is a top-level ``def`` or ``class``, or a module-level
assignment to a non-dunder name. Queries registered with ``@_q`` are exempt:
the registry reaches them by decoration, not by name.

Only code counts as a reference: a loaded ``Name`` or an ``Attribute``'s
attribute. Docstrings, comments, strings and ``__all__`` never count, and
neither does an import: an imported name counts only where the module's
code loads it, with ``as`` aliases mapped back to the imported name. A
definition is used when some reached code names it; reached code is every
product statement outside a package definition, plus the bodies of the
definitions it reaches, transitively. A definition's references inside its
own body therefore never keep it alive, and neither do those of
definitions that are themselves unused. ``joins.enrich``,
``scalars.pr_number``, ``scalars.wrap_text`` and ``scalars._wrap32`` stay
live only through the allowlisted ``pr_events_from_commits``.

Names are matched without their module, so two definitions that share a
name live or die together; that only ever keeps too much.

The second guard covers selectors: parameters that default to ``None``,
``True`` or ``False`` and pick a code path, either in ``if`` tests (an
``if`` whose body is one ``raise`` is a check, not a path) and conditional
expressions, or by being forwarded by name to a selector of another
package function. Product calls are matched by name. A literal or a
list/tuple display is a fixed value, an omitted argument is its default,
and a bare name that is a parameter of the enclosing package function
takes the values of that function's own product calls; anything else, and
any parameter a ``*args``/``**kwargs`` call may fill, is varied. A function
that product code never calls is skipped. A selector fails when product
calls give it one fixed value, or when it defaults to ``None`` and no
product call leaves it ``None``: delete the path nobody selects, make the
parameter required, or allowlist it with a reason.
"""

from __future__ import annotations

import ast
import functools
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


def _aliases(tree: ast.AST) -> dict[str, str]:
    """Map each name an import binds under ``as`` back to the imported name."""
    return {
        a.asname: a.name
        for n in ast.walk(tree)
        if isinstance(n, (ast.Import, ast.ImportFrom))
        for a in n.names
        if a.asname
    }


def _references(node: ast.AST, aliases: dict[str, str]) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(aliases.get(n.id, n.id))
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def parse(sources: dict[str, str]) -> dict[str, ast.Module]:
    """Parse the product files of ``sources`` (path -> text); tests are dropped."""
    return {
        path: ast.parse(text, path)
        for path, text in sources.items()
        if not _is_test(path)
    }


def scan(
    trees: dict[str, ast.Module], allowlist=()
) -> tuple[set[str], set[str], set[str]]:
    """Return (defined, unreached, reached without the allowlist).

    ``trees`` maps repository-relative paths to parsed product files. Every
    result holds ``"path:name"`` keys of package definitions. Allowlisted
    definitions are roots for the first two results, so the helpers they
    call stay reached.
    """
    roots: set[str] = set()
    bodies: dict[str, set[str]] = {}  # definition key -> names it references
    by_name: dict[str, list[str]] = {}
    for path, tree in trees.items():
        aliases = _aliases(tree)
        if not path.startswith(PACKAGE):
            roots |= _references(tree, aliases)
            continue
        for node in tree.body:
            names = _names_defined(node)
            if names is None or _registered(node):
                roots |= _references(node, aliases)
                continue
            refs = _references(node, aliases)
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


@functools.cache
def _repo_trees() -> dict[str, ast.Module]:
    sources = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith((".", "__pycache__"))]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                rel = os.path.relpath(path, ROOT).replace(os.sep, "/")
                with open(path, encoding="utf-8") as fh:
                    sources[rel] = fh.read()
    return parse(sources)


def problems(trees: dict[str, ast.Module], allowlist: dict[str, str]) -> list[str]:
    defined, unreached, reached = scan(trees, allowlist)
    out = [f"no product caller: {k}" for k in sorted(unreached)]
    for key in sorted(allowlist):
        if key not in defined:
            out.append(f"allowlisted but not defined: {key}")
        elif key in reached:
            out.append(f"allowlisted but has a product caller: {key}")
    return out


def test_every_top_level_definition_is_referenced():
    found = problems(_repo_trees(), ALLOWLIST)
    assert not found, "\n".join(found)


# Selectors: options that product code never varies.

# Selectors kept although product code never varies them, each with the
# reason it stays.
SELECTOR_ALLOWLIST = {
    "riot_graphs_spark/plans/fetch.py:batch_fetch.now":
        "the clock that tests substitute",
    "riot_graphs_spark/operators/similarity.py:embedding_neardup_pairs.allow_all_pairs":
        "the exact all-pairs baseline test_plan_shapes compares blocking against",
    "riot_graphs_spark/operators/dedup.py:sorted_neighborhood_pairs.checkpoint":
        "lets test_plan_shapes see the rank lineage the checkpoint hides",
    "riot_graphs_spark/operators/graph.py:pagerank.dedup_edges":
        "protects callers that cannot promise unique src < dst edges",
    "riot_graphs_spark/functions/influxql.py:influxql.time_range":
        "binds Grafana's $timeFilter macro; /query receives it substituted",
}

_VARIED = "<varied>"
_NONE = repr(None)


def _is_flag(node: ast.expr | None) -> bool:
    return isinstance(node, ast.Constant) and (
        node.value is None or node.value is True or node.value is False
    )


def _loads(node: ast.AST) -> set[str]:
    return {
        n.id for n in ast.walk(node)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    }


def _branches_on(fn: ast.FunctionDef, param: str) -> bool:
    """Whether ``param`` is named in the test of an ``if`` whose body is more
    than a ``raise``, or of a conditional expression, in ``fn``."""
    for stmt in fn.body:
        for n in ast.walk(stmt):
            if isinstance(n, ast.If):
                if len(n.body) == 1 and isinstance(n.body[0], ast.Raise):
                    continue
            elif not isinstance(n, ast.IfExp):
                continue
            if param in _loads(n.test):
                return True
    return False


def _defaults(fn: ast.FunctionDef | ast.Lambda) -> dict[str, ast.expr | None]:
    """Every parameter name of ``fn`` -> its default expression (None if none)."""
    a = fn.args
    positional = a.posonlyargs + a.args
    out = dict.fromkeys(p.arg for p in positional + a.kwonlyargs)
    for p, d in zip(positional[len(positional) - len(a.defaults):], a.defaults):
        out[p.arg] = d
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        out[p.arg] = d
    for p in (a.vararg, a.kwarg):
        if p is not None:
            out[p.arg] = None
    return out


def _callee_name(call: ast.Call) -> str | None:
    fn = call.func
    return fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)


class _Calls:
    """Every product call of every package function, with the values that the
    calls bind to its parameters."""

    def __init__(self, trees: dict[str, ast.Module]):
        self.functions = []  # (path, def) of package functions
        self.package: dict[ast.AST, bool] = {}  # def -> is_method
        self.defs: dict[str, list] = {}  # name -> package defs
        self.calls: dict[str, list] = {}  # callee name -> [(call, scopes)]
        self.memo: dict = {}
        for path, tree in trees.items():
            self._visit(tree, (), path.startswith(PACKAGE), path, False)

    def _visit(self, node, scopes, in_package, path, in_class):
        if isinstance(node, ast.Call) and _callee_name(node):
            self.calls.setdefault(_callee_name(node), []).append((node, scopes))
        is_def = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        if is_def and in_package:
            self.functions.append((path, node))
            self.package[node] = in_class
            self.defs.setdefault(node.name, []).append(node)
        if is_def or isinstance(node, ast.Lambda):
            scopes = scopes + (node,)
        for child in ast.iter_child_nodes(node):
            self._visit(child, scopes, in_package, path, isinstance(node, ast.ClassDef))

    def called(self, fn) -> list:
        """Product calls of ``fn``; a method is only called through an attribute."""
        return [
            (call, scopes) for call, scopes in self.calls.get(fn.name, ())
            if not self.package[fn] or isinstance(call.func, ast.Attribute)
        ]

    def values(self, fn, param: str) -> set[str]:
        """The values product calls give ``param`` of ``fn``."""
        key = (fn, param)
        if key not in self.memo:
            self.memo[key] = set()  # a call cycle adds nothing
            calls = self.called(fn)
            self.memo[key] = set().union(
                *(self._bound(fn, call, param, scopes) for call, scopes in calls)
            ) if calls else {_VARIED}
        return self.memo[key]

    def _binding(self, fn, call: ast.Call) -> tuple[dict[str, ast.expr], bool]:
        """(parameter -> argument expression, whether ``*``/``**`` may bind
        the parameters left out of the mapping)."""
        a = fn.args
        # a method's first parameter is bound by the attribute it is called on
        positional = [p.arg for p in a.posonlyargs + a.args][self.package[fn]:]
        bound = {}
        unpacked = any(kw.arg is None for kw in call.keywords)
        for name, arg in zip(positional, call.args):
            if isinstance(arg, ast.Starred):
                unpacked = True
                break
            bound[name] = arg
        bound.update((kw.arg, kw.value) for kw in call.keywords if kw.arg)
        return bound, unpacked

    def _bound(self, fn, call: ast.Call, param: str, scopes) -> set[str]:
        bound, unpacked = self._binding(fn, call)
        if param in bound:
            return self._value(bound[param], scopes)
        default = _defaults(fn)[param]
        if unpacked or default is None:
            return {_VARIED}
        return self._value(default, ())

    def selects(self, fn, param: str) -> bool:
        """Whether ``param`` picks a path in ``fn`` or in a package function
        that ``fn`` forwards it to by name."""
        key = ("selects", fn, param)
        if key not in self.memo:
            self.memo[key] = False  # a call cycle adds nothing
            self.memo[key] = _branches_on(fn, param) or any(
                self.selects(callee, q)
                for call in ast.walk(fn)
                if isinstance(call, ast.Call)
                for callee in self.defs.get(_callee_name(call), ())
                for q, arg in self._binding(callee, call)[0].items()
                if isinstance(arg, ast.Name) and arg.id == param
            )
        return self.memo[key]

    def _value(self, node: ast.expr, scopes) -> set[str]:
        if isinstance(node, ast.Name):
            for scope in reversed(scopes):
                if node.id in _defaults(scope):
                    if scope in self.package:
                        return self.values(scope, node.id)
                    break
            return {_VARIED}
        try:
            return {repr(ast.literal_eval(node))}
        except (ValueError, TypeError, SyntaxError):
            pass
        if isinstance(node, (ast.List, ast.Tuple)):
            return {ast.dump(node)}
        return {_VARIED}


def scan_selectors(trees: dict[str, ast.Module]) -> tuple[dict[str, str], set[str]]:
    """Return (unvaried selectors -> why, every selector with a product call).

    Keys are ``"path:function.param"``.
    """
    calls = _Calls(trees)
    flagged: dict[str, str] = {}
    selectors: set[str] = set()
    for path, fn in calls.functions:
        if not calls.called(fn):
            continue
        for param, default in _defaults(fn).items():
            if not _is_flag(default) or not calls.selects(fn, param):
                continue
            key = f"{path}:{fn.name}.{param}"
            selectors.add(key)
            values = calls.values(fn, param)
            if len(values) == 1 and _VARIED not in values:
                flagged[key] = f"always {next(iter(values))}"
            elif default.value is None and not values & {_NONE, _VARIED}:
                flagged[key] = "never left None"
    return flagged, selectors


def selector_problems(trees, allowlist: dict[str, str]) -> list[str]:
    flagged, selectors = scan_selectors(trees)
    out = [
        f"never varied by product code: {k} ({why})"
        for k, why in sorted(flagged.items()) if k not in allowlist
    ]
    for key in sorted(allowlist):
        if key not in selectors:
            out.append(f"allowlisted but not a selector: {key}")
        elif key not in flagged:
            out.append(f"allowlisted but varied by product code: {key}")
    return out


def test_every_selector_is_varied_by_product_code():
    found = selector_problems(_repo_trees(), SELECTOR_ALLOWLIST)
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
    sources = {_PKG: pkg, "server.py": "from riot_graphs_spark.m import loud\nloud()\n"}
    assert problems(parse(sources), {}) == [
        f"no product caller: {_PKG}:quiet"
    ]


def test_tests_do_not_count_as_callers():
    pkg = "LIMIT = 3\ndef helper():\n    return LIMIT\n"
    sources = {
        _PKG: pkg,
        "tests/test_m.py": "from riot_graphs_spark.m import helper\nhelper()\n",
        "perfbench/tests/test_p.py": "import riot_graphs_spark.m as m\nm.LIMIT\n",
    }
    assert problems(parse(sources), {}) == [
        f"no product caller: {_PKG}:LIMIT",
        f"no product caller: {_PKG}:helper",
    ]


def test_an_unused_caller_does_not_keep_its_callees():
    pkg = (
        "def leaf():\n    return 1\n"
        "def mid():\n    return leaf()\n"
        "def top():\n    return mid() + top()\n"
    )
    assert problems(parse({_PKG: pkg}), {}) == [
        f"no product caller: {_PKG}:leaf",
        f"no product caller: {_PKG}:mid",
        f"no product caller: {_PKG}:top",
    ]
    assert problems(parse({_PKG: pkg, "cli.py": "import m\nm.top()\n"}), {}) == []


def test_an_allowlisted_definition_passes_and_keeps_its_helpers():
    pkg = "def _helper():\n    return 1\ndef kept():\n    return _helper()\n"
    assert problems(parse({_PKG: pkg}), {f"{_PKG}:kept": "reason"}) == []


def test_an_allowlist_entry_whose_definition_is_gone_fails():
    assert problems(parse({_PKG: "X = 1\nY = X\n", "cli.py": "Y\n"}),
                  {f"{_PKG}:kept": "reason"}) == [
        f"allowlisted but not defined: {_PKG}:kept"
    ]


def test_an_allowlist_entry_with_a_product_caller_fails():
    pkg = "def kept():\n    return 1\n"
    sources = {_PKG: pkg, "tools/t.py": "from riot_graphs_spark.m import kept\nkept()\n"}
    assert problems(parse(sources), {f"{_PKG}:kept": "reason"}) == [
        f"allowlisted but has a product caller: {_PKG}:kept"
    ]


def test_registered_queries_are_exempt_and_their_bodies_count():
    pkg = (
        "def _q(f):\n    return f\n"
        "def _body():\n    return 1\n"
        "@_q\ndef some_query():\n    return _body()\n"
    )
    assert problems(parse({_PKG: pkg}), {}) == []


def test_an_unused_import_does_not_keep_its_definition_alive():
    pkg = "def used():\n    return 1\ndef imported_only():\n    return 2\n"
    sources = {
        _PKG: pkg,
        "riot_graphs_spark/n.py": (
            "from .m import imported_only, used as u\n"
            "def run():\n    return u()\n"
        ),
        "cli.py": "from riot_graphs_spark.n import run\nrun()\n",
    }
    assert problems(parse(sources), {}) == [
        f"no product caller: {_PKG}:imported_only"
    ]


# The selector scanner on small in-memory trees.

_FLAG = (
    "def f(x, fast=True):\n"
    "    if fast:\n        return x\n"
    "    return -x\n"
)


def test_a_flag_no_product_call_changes_is_flagged():
    sources = {_PKG: _FLAG, "cli.py": "f(1)\nf(2, fast=True)\n"}
    assert selector_problems(parse(sources), {}) == [
        f"never varied by product code: {_PKG}:f.fast (always True)"
    ]
    sources["server.py"] = "f(3, False)\n"
    assert selector_problems(parse(sources), {}) == []


def test_a_none_default_every_product_call_fills_is_flagged():
    pkg = (
        "def pick(df, tiebreak=None):\n"
        "    return [df, tiebreak] if tiebreak else [df]\n"
    )
    sources = {_PKG: pkg, "cli.py": "pick(1, tiebreak='a')\npick(2, 'b')\n"}
    assert selector_problems(parse(sources), {}) == [
        f"never varied by product code: {_PKG}:pick.tiebreak (never left None)"
    ]
    sources["cli.py"] += "pick(3)\n"
    assert selector_problems(parse(sources), {}) == []


def test_a_forwarded_value_resolves_through_the_wrappers_callers():
    pkg = _FLAG + "def wrap(x, fast=True):\n    return f(x, fast)\n"
    sources = {_PKG: pkg, "cli.py": "wrap(1, fast=False)\nwrap(2, False)\n"}
    assert selector_problems(parse(sources), {}) == [
        f"never varied by product code: {_PKG}:f.fast (always False)",
        f"never varied by product code: {_PKG}:wrap.fast (always False)",
    ]
    sources["cli.py"] += "wrap(3, fast=True)\n"
    assert selector_problems(parse(sources), {}) == []


def test_kwargs_calls_and_computed_arguments_count_as_varied():
    for caller in ("f(1, **opts)\n", "f(*args)\n", "f(1, fast=n > 2)\n"):
        sources = {_PKG: _FLAG, "cli.py": "f(1)\n" + caller}
        assert selector_problems(parse(sources), {}) == [], caller


def test_a_check_that_only_raises_is_not_a_selector():
    pkg = (
        "def f(x, fill=None):\n"
        "    if fill is None:\n        raise ValueError('fill')\n"
        "    return x + fill\n"
    )
    assert selector_problems(parse({_PKG: pkg, "cli.py": "f(1, 0)\n"}), {}) == []


def test_test_callers_do_not_vary_a_selector():
    sources = {
        _PKG: _FLAG,
        "cli.py": "f(1)\n",
        "tests/test_f.py": "f(1, fast=False)\n",
        "perfbench/tests/test_g.py": "f(2, False)\n",
    }
    assert selector_problems(parse(sources), {}) == [
        f"never varied by product code: {_PKG}:f.fast (always True)"
    ]


def test_a_selector_allowlist_entry_must_stay_unvaried_and_defined():
    key = f"{_PKG}:f.fast"
    sources = {_PKG: _FLAG, "cli.py": "f(1)\n"}
    assert selector_problems(parse(sources), {key: "reason"}) == []
    sources["cli.py"] += "f(2, fast=False)\n"
    assert selector_problems(parse(sources), {key: "reason"}) == [
        f"allowlisted but varied by product code: {key}"
    ]
    sources = {_PKG: "def f(x):\n    return x\n", "cli.py": "f(1)\n"}
    assert selector_problems(parse(sources), {key: "reason"}) == [
        f"allowlisted but not a selector: {key}"
    ]
