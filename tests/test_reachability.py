"""Every package module is reached from an entrypoint.

Walks the static ``import`` graph (``ast``, imports inside functions
included) from the engine's entrypoints — the CLI, ``__spark_entry__.py``,
``bench.py`` and the ``perfbench/`` validation benchmark — and asserts
that no module under ``np_data_validation_spark/`` is left unreached.
There is no allowlist: a module only its own tests import fails here, so
wire it into an entrypoint or delete it with its tests. perfbench's
sibling imports are not followed, so each of its files that imports the
package is a root.
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


def _imported_names(path: str) -> set[str]:
    """Dotted names a file imports (``from a import b`` yields ``a`` and
    ``a.b``, since ``b`` may be a submodule). The package uses absolute
    imports only; a relative one would leave its target unreached and
    fail the test, not pass it silently."""
    with open(path) as f:
        tree = ast.parse(f.read())
    names = set()
    for node in ast.walk(tree):
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
