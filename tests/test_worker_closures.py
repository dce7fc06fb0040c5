"""Every function the package hands to a Spark Python worker
(``mapInPandas``, ``mapInArrow``, ``applyInArrow``, ``applyInPandas``)
calls ``limit_worker_threads()``: without it each worker builds a
cores-wide Arrow thread pool, and many concurrent workers oversubscribe
the machine. Static check over the package source, no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

import quickwit_spark

WORKER_APIS = {"mapInPandas", "mapInArrow", "applyInArrow", "applyInPandas"}
PACKAGE = Path(quickwit_spark.__file__).parent
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _scopes(tree: ast.Module) -> dict:
    """node -> its nearest enclosing function (or the module)."""
    scope_of = {}

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            scope_of[child] = scope
            visit(child, child if isinstance(child, FUNCS) else scope)

    visit(tree, tree)
    return scope_of


def _resolve(name: str, call: ast.Call, scope_of: dict):
    """The ``def name`` visible from ``call``: the nearest enclosing
    scope that defines it."""
    scope = scope_of[call]
    while True:
        for node in ast.walk(scope):
            if isinstance(node, FUNCS) and node.name == name and scope_of.get(node) is scope:
                return node
        if isinstance(scope, ast.Module):
            return None
        scope = scope_of[scope]


def _calls_limit(fn) -> bool:
    for node in ast.walk(fn):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "limit_worker_threads":
                return True
    return False


def worker_functions():
    """``(file:line, function node or None)`` per worker-API call."""
    out = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        scope_of = _scopes(tree)
        for call in ast.walk(tree):
            if not (
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr in WORKER_APIS
            ):
                continue
            where = f"{path.relative_to(PACKAGE.parent)}:{call.lineno}"
            arg = call.args[0] if call.args else None
            fn = _resolve(arg.id, call, scope_of) if isinstance(arg, ast.Name) else None
            out.append((where, fn))
    return out


def test_every_worker_function_caps_arrow_threads():
    found = worker_functions()
    assert len(found) >= 8  # the check really sees the package's kernels
    unresolved = [w for w, fn in found if fn is None]
    assert not unresolved, f"worker function not a local def: {unresolved}"
    missing = [f"{w} ({fn.name})" for w, fn in found if not _calls_limit(fn)]
    assert not missing, f"worker functions without limit_worker_threads(): {missing}"


def test_check_flags_a_kernel_without_the_cap(tmp_path, monkeypatch):
    """The check itself fails on a kernel that skips the call."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "m.py").write_text(
        "def good(df):\n"
        "    def kernel(it):\n"
        "        limit_worker_threads()\n"
        "        yield from it\n"
        "    return df.mapInPandas(kernel, schema='a long')\n"
        "def bad(df):\n"
        "    def kernel(it):\n"
        "        yield from it\n"
        "    return df.groupBy('a').applyInArrow(kernel, schema='a long')\n"
    )
    monkeypatch.setitem(globals(), "PACKAGE", pkg)
    got = {w.split(":")[1]: fn is not None and _calls_limit(fn)
           for w, fn in worker_functions()}
    assert got == {"5": True, "9": False}
