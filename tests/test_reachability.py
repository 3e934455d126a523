"""Every package module, every top-level name in it and every defaulted
parameter of its functions is reached from an entrypoint.

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

Last, the walk runs per parameter: every defaulted parameter of a reached
top-level package function must be passed, by position or keyword, a
value whose source text differs from its default's, by a call in reached
code. Calls resolve like uses (bare name, ``from`` import, ``alias.name``).
A value that only forwards the caller's own defaulted parameter counts
once that parameter is itself varied (iterated to a fixpoint); a ``*`` or
``**`` splat counts as passing every parameter it may reach.
``TEST_SEAMS`` holds only parameters a test varies to force a branch or to
substitute a fake, each with that test; an entry fails when an entrypoint
varies it, its default is gone, or its test no longer varies it.
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


def _module_scopes(mods) -> dict[str, tuple]:
    """module -> (tree, its top-level names, its top-level import bindings)."""
    out = {}
    for mod, path in mods.items():
        tree = _parse(path)
        tops = {name for stmt in tree.body for name in _defined(stmt)}
        outer = {}
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                outer.update(_bindings(stmt, mods))
        out[mod] = (tree, tops, outer)
    return out


def _name_graph() -> tuple[dict[tuple, set], set[tuple], dict[tuple, tuple]]:
    """(defined name -> names it uses, root uses, re-export -> target)."""
    mods = _package_modules()
    graph: dict[tuple, set] = {}
    roots: set[tuple] = set()
    reexports: dict[tuple, tuple] = {}
    for mod, (tree, tops, outer) in _module_scopes(mods).items():
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


def _reached_names() -> tuple[dict[tuple, set], set[tuple], dict[tuple, tuple]]:
    """(name graph, reached names, re-export -> target)."""
    graph, roots, reexports = _name_graph()
    seen, todo = set(), list(roots)
    while todo:
        key = todo.pop()
        key = reexports.get(key, key)
        if key in seen:
            continue
        seen.add(key)
        todo.extend(graph.get(key, ()))
    return graph, seen, reexports


def _unreached_names() -> set[tuple]:
    graph, seen, _reexports = _reached_names()
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


# ---------------------------------------------------------------------------
# per-parameter reachability
# ---------------------------------------------------------------------------

#: (module, function, parameter) -> the test that varies it to force a
#: branch or to substitute a fake; no entrypoint varies it.
TEST_SEAMS = {
    (f"{PKG}.plans.signature", "check_plan_snapshots", "signature_fn"):
        "test_benchlib::test_check_plan_snapshots_update_ok_drift",
    (f"{PKG}.operators.dedup", "cluster_keep_one", "local_edge_threshold"):
        "test_text_dedup::test_cluster_keep_one_matches_duckdb_recursive_cte",
    (f"{PKG}.operators.dedup", "connected_components", "local_edge_threshold"):
        "test_text_dedup::test_connected_components_chain_and_islands",
    (f"{PKG}.operators.skew", "detect_hot_keys", "ratio"):
        "test_skew::test_detect_hot_keys",
    (f"{PKG}.operators.skew", "detect_hot_keys", "min_hot_rows"):
        "test_skew::test_detect_hot_keys",
    (f"{PKG}.streaming.incremental", "validate_stream", "max_files_per_trigger"):
        "test_sources_streaming::test_streaming_query_matches_batch_rollup",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _defaults(fd: ast.FunctionDef) -> dict[str, str]:
    """parameter -> source text of its default, for each defaulted one."""
    a = fd.args
    pos = a.posonlyargs + a.args
    out = {
        p.arg: ast.unparse(d)
        for p, d in zip(pos[len(pos) - len(a.defaults) :], a.defaults)
    }
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            out[p.arg] = ast.unparse(d)
    return out


def _params(fn: ast.AST) -> list[str]:
    a = fn.args
    named = a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
    return [p.arg for p in named if p]


def _passed(call: ast.Call, fd: ast.FunctionDef) -> list[tuple[str, ast.expr | None]]:
    """(parameter, value) for each parameter ``call`` passes; the value is
    None where a ``*``/``**`` splat may pass it."""
    pos = [p.arg for p in fd.args.posonlyargs + fd.args.args]
    out = []
    for i, v in enumerate(call.args):
        if isinstance(v, ast.Starred):
            out += [(p, None) for p in pos[i:]]
            break
        if i < len(pos):
            out.append((pos[i], v))
    for kw in call.keywords:
        if kw.arg is None:
            out += [(p, None) for p in _params(fd)]
        else:
            out.append((kw.arg, kw.value))
    return out


def _scoped_calls(node: ast.AST, scope: dict):
    """(call, scope) for each call under ``node``. ``scope`` maps a name to
    the ``(module, function, parameter)`` it would forward, or to None when
    it is not a defaulted parameter of a top-level package function."""
    for child in ast.iter_child_nodes(node):
        inner = scope
        if isinstance(child, (*_DEFS, ast.Lambda)):
            inner = {**scope, **dict.fromkeys(_params(child))}
        if isinstance(child, ast.Call):
            yield child, scope
        yield from _scoped_calls(child, inner)


def _call_sites(node, mod, tops, outer, mods, reexports, origin=None) -> list:
    """(called package function, call, scope, origin) for each call under
    ``node`` that resolves like a name use: a bare top-level name of
    ``mod``, a ``from``-import binding, or ``alias.name``."""
    bind = {**outer, **_bindings(node, mods)}
    scope = {}
    if mod and isinstance(node, _DEFS):
        defaulted = _defaults(node)
        scope = {p: (mod, node.name, p) if p in defaulted else None for p in _params(node)}
    out = []
    for call, sc in _scoped_calls(node, scope):
        f, target = call.func, None
        if isinstance(f, ast.Name):
            b = bind.get(f.id)
            if b and b[0] == "name":
                target = (b[1], b[2])
            elif f.id in tops:
                target = (mod, f.id)
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            b = bind.get(f.value.id)
            if b and b[0] == "mod":
                target = (b[1], f.attr)
        while target in reexports:
            target = reexports[target]
        if target:
            out.append((target, call, sc, origin))
    return out


def _varied(sites, functions) -> dict[tuple, set]:
    """(module, function, parameter) -> origins, for each defaulted
    parameter the ``sites`` pass a value whose text differs from its
    default's. Forwarding a caller's own defaulted parameter counts only
    once that parameter is itself varied, and carries its origins; the
    walk iterates to a fixpoint."""
    varied: dict[tuple, set] = {}
    changed = True
    while changed:
        changed = False
        for target, call, scope, origin in sites:
            fd = functions.get(target)
            if fd is None:
                continue
            defaults = _defaults(fd)
            for p, v in _passed(call, fd):
                if p not in defaults or (v is not None and ast.unparse(v) == defaults[p]):
                    continue
                fwd = scope.get(v.id) if isinstance(v, ast.Name) else None
                if fwd is not None and fwd not in varied:
                    continue
                origins = varied[fwd] if fwd is not None else {origin}
                have = varied.setdefault((*target, p), set())
                if not origins <= have:
                    have |= origins
                    changed = True
    return varied


def _parameter_walk() -> tuple[set, dict, dict]:
    """(defaulted parameters of reached package functions, parameters
    reached code varies, parameters tests vary -> the tests)."""
    mods = _package_modules()
    _graph, seen, reexports = _reached_names()
    scopes = _module_scopes(mods)
    functions = {
        (mod, stmt.name): stmt
        for mod, (tree, _tops, _outer) in scopes.items()
        for stmt in tree.body
        if isinstance(stmt, _DEFS)
    }
    reached_sites, pkg_sites = [], []
    for mod, (tree, tops, outer) in scopes.items():
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            sites = _call_sites(stmt, mod, tops, outer, mods, reexports)
            pkg_sites += sites
            names = _defined(stmt)
            if not names or any((mod, n) in seen for n in names):
                reached_sites += sites
    for path in ROOTS:
        if not path.startswith(PKG + "/"):
            tree = _parse(os.path.join(REPO, path))
            reached_sites += _call_sites(tree, None, set(), {}, mods, reexports)
    # a test's call varies a parameter with any value but the default's
    # text; forwards inside the package carry the test along
    test_sites = []
    tests_dir = os.path.join(REPO, "tests")
    for fn in sorted(os.listdir(tests_dir)):
        if fn.endswith(".py"):
            tree = _parse(os.path.join(tests_dir, fn))
            bind = _bindings(tree, mods)
            for stmt in tree.body:
                origin = fn[: -len(".py")] + "::" + getattr(stmt, "name", "<module>")
                test_sites += _call_sites(stmt, None, set(), bind, mods, reexports, origin)
    defaulted = {(*key, p) for key, fd in functions.items() if key in seen for p in _defaults(fd)}
    return defaulted, _varied(reached_sites, functions), _varied(test_sites + pkg_sites, functions)


def test_every_package_parameter_is_varied_by_an_entrypoint():
    defaulted, live, tested = _parameter_walk()
    dead = defaulted - set(live) - set(TEST_SEAMS)
    assert not dead, "defaulted parameters no entrypoint sets: " + ", ".join(
        f"{m}.{f}.{p}" for m, f, p in sorted(dead)
    )
    stale = {
        key: test
        for key, test in TEST_SEAMS.items()
        if key in live or key not in defaulted or test not in tested.get(key, ())
    }
    assert not stale, (
        "stale TEST_SEAMS entries (an entrypoint varies them, they are gone, "
        "or their test no longer varies them): "
        + ", ".join(f"{m}.{f}.{p} ({t})" for (m, f, p), t in sorted(stale.items()))
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
