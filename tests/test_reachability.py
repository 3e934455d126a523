"""Every package module, and every top-level name in it, is reached from an
entrypoint.

Walks the static ``import`` graph (``ast``, imports inside functions
included) from the engine's entrypoints — the CLI, ``__spark_entry__.py``,
``bench.py`` and the ``perfbench/`` validation benchmark — and asserts
that no module under ``np_data_validation_spark/`` is left unreached.
perfbench's sibling imports are not followed, so each of its files that
imports the package is a root.

The same walk then runs per top-level function, class and constant: a
name is reached when code that is itself reached uses it. Reached code is
a root file outside the package, any package module's top-level
statements that are not definitions, every ``@q``-registered query, and
the bodies of reached names. A use is a load of the bare name in its own
module, of a name bound by ``from <pkg module> import name``, of
``alias.name`` for a package-module alias, or a ``(alias, "name")`` tuple
(perfbench's hook table). An import alone is not a use. The walk ignores
scoping, so a local that shadows a top-level name counts as a use of it:
it can miss a dead name, never invent one. ``schema.py`` declarations and
dunder names (``__version__``) are exempt. ``ALLOWED_UNREACHED`` holds
only names a test compares against or builds fixtures with, each with the
test that needs it; a name that becomes reached must leave the list.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "np_data_validation_spark"

ROOTS = [
    f"{PKG}/__main__.py",
    f"{PKG}/queries.py",
    "__spark_entry__.py",
    "bench.py",
    "perfbench/run.py",
    "perfbench/inputs.py",
    "perfbench/spans.py",
]

#: (module, name) -> the test that is its only user.
ALLOWED_UNREACHED = {
    (f"{PKG}.operators.dedup", "prepare_corpus_sql"):
        "test_text_dedup::test_prepare_corpus_matches_duckdb_twin",
    (f"{PKG}.operators.dedup", "contaminated_ids_sql"):
        "test_text_dedup::test_prepare_corpus_matches_duckdb_twin (via prepare_corpus_sql)",
    (f"{PKG}.functions.text", "filter_funnel_sql"):
        "test_text_dedup::test_filter_funnel_matches_duckdb_twin",
    (f"{PKG}.synth", "generate_dataset"): "conftest::synth_dataset",
}

#: modules whose top-level names are declarations, exempt from the name check
EXEMPT_MODULES = {f"{PKG}.schema"}


def _package_modules() -> dict[str, str]:
    """dotted module name -> file path, for every module in the package."""
    out = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, fn), REPO)[: -len(".py")]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            out[".".join(parts)] = os.path.join(root, fn)
    return out


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read())


def _imported_names(path: str) -> set[str]:
    """Dotted names a file imports (``from a import b`` yields ``a`` and
    ``a.b``, since ``b`` may be a submodule). The package uses absolute
    imports only; a relative one would leave its target unreached and
    fail the test, not pass it silently."""
    names = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def _reached() -> set[str]:
    mods = _package_modules()
    seen = {p[: -len(".py")].replace("/", ".") for p in ROOTS}
    todo = [os.path.join(REPO, p) for p in ROOTS]
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            # importing a.b.c also executes a and a.b
            for i in range(1, len(parts) + 1):
                dotted = ".".join(parts[:i])
                if dotted in mods and dotted not in seen:
                    seen.add(dotted)
                    todo.append(mods[dotted])
    return seen


def test_every_package_module_is_reached_from_an_entrypoint():
    unreached = set(_package_modules()) - _reached()
    assert unreached == set(), f"unreached: {sorted(unreached)}"


# ---------------------------------------------------------------------------
# per-name reachability
# ---------------------------------------------------------------------------


def _defined(stmt: ast.stmt) -> list[str]:
    """Top-level names a module statement defines."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, ast.Tuple) else [t]
        names += [e.id for e in elts if isinstance(e, ast.Name)]
    return names


def _bindings(node: ast.AST, mods: dict[str, str]) -> dict[str, tuple]:
    """Local name -> ("mod", module) or ("name", module, attr) for every
    package import inside ``node``."""
    out = {}
    for n in ast.walk(node):
        if isinstance(n, ast.Import):
            for a in n.names:
                if a.asname and a.name in mods:
                    out[a.asname] = ("mod", a.name)
        elif isinstance(n, ast.ImportFrom) and n.module in mods:
            for a in n.names:
                full = f"{n.module}.{a.name}"
                bound = ("mod", full) if full in mods else ("name", n.module, a.name)
                out[a.asname or a.name] = bound
    return out


def _uses(node: ast.AST, mod: str | None, tops: set[str], outer: dict, mods) -> set:
    """(module, name) pairs that ``node`` uses."""
    bind = {**outer, **_bindings(node, mods)}

    def alias(n):
        b = bind.get(n.id) if isinstance(n, ast.Name) else None
        return b[1] if b and b[0] == "mod" else None

    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            if n.id in tops:
                out.add((mod, n.id))
            b = bind.get(n.id)
            if b and b[0] == "name":
                out.add((b[1], b[2]))
        elif isinstance(n, ast.Attribute) and alias(n.value):
            out.add((alias(n.value), n.attr))
        elif (
            isinstance(n, ast.Tuple)
            and len(n.elts) == 2
            and alias(n.elts[0])
            and isinstance(n.elts[1], ast.Constant)
            and isinstance(n.elts[1].value, str)
        ):
            out.add((alias(n.elts[0]), n.elts[1].value))
    return out


def _is_registered_query(stmt: ast.stmt) -> bool:
    return isinstance(stmt, ast.FunctionDef) and any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "q"
        for d in stmt.decorator_list
    )


def _name_graph() -> tuple[dict[tuple, set], set[tuple], dict[tuple, tuple]]:
    """(defined name -> names it uses, root uses, re-export -> target)."""
    mods = _package_modules()
    graph: dict[tuple, set] = {}
    roots: set[tuple] = set()
    reexports: dict[tuple, tuple] = {}
    for mod, path in mods.items():
        tree = _parse(path)
        tops = {name for stmt in tree.body for name in _defined(stmt)}
        outer = {}
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                outer.update(_bindings(stmt, mods))
        for local, b in outer.items():
            if b[0] == "name":
                reexports[(mod, local)] = (b[1], b[2])
        for stmt in tree.body:
            uses = _uses(stmt, mod, tops, outer, mods)
            names = _defined(stmt)
            for name in names:
                graph.setdefault((mod, name), set()).update(uses)
                if _is_registered_query(stmt):
                    roots.add((mod, name))
            if not names and not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= uses
    for path in ROOTS:
        if not path.startswith(PKG + "/"):
            tree = _parse(os.path.join(REPO, path))
            roots |= _uses(tree, None, set(), {}, mods)
    return graph, roots, reexports


def _unreached_names() -> set[tuple]:
    graph, roots, reexports = _name_graph()
    seen, todo = set(), list(roots)
    while todo:
        key = todo.pop()
        key = reexports.get(key, key)
        if key in seen:
            continue
        seen.add(key)
        todo.extend(graph.get(key, ()))
    return {
        key
        for key in graph
        if key not in seen
        and key[0] not in EXEMPT_MODULES
        and not (key[1].startswith("__") and key[1].endswith("__"))
    }


def test_every_package_name_is_reached_from_an_entrypoint():
    unreached = _unreached_names()
    leftover = unreached - set(ALLOWED_UNREACHED)
    assert not leftover, "unreached top-level names: " + ", ".join(
        f"{m}.{n}" for m, n in sorted(leftover)
    )
    stale = set(ALLOWED_UNREACHED) - unreached
    assert not stale, "now reached or gone, drop from ALLOWED_UNREACHED: " + ", ".join(
        f"{m}.{n}" for m, n in sorted(stale)
    )


def test_perfbench_trace_hooks_resolve(monkeypatch):
    """perfbench's tracer wraps package functions by name; one that is
    renamed or deleted makes every traced benchmark call fail, so each
    hooked ``(module, attr)`` must still resolve to a callable."""
    monkeypatch.syspath_prepend(os.path.join(REPO, "perfbench"))
    import spans

    missing = [
        f"{mod.__name__}.{attr}"
        for mod, attr in spans.WRAPPED
        if not callable(getattr(mod, attr, None))
    ]
    assert not missing, f"perfbench/spans.py hooks missing functions: {missing}"
