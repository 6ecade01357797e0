"""worker.drop_zip_finders and the rule that every kernel calls it first.

PySpark's worker runs ``importlib.invalidate_caches()`` at every task start,
which on CPython 3.11/3.12 re-reads each cached zip finder's archive
directory. A kernel that skips the helper silently brings that per-task
cost back, so the guard below walks the package source.
"""

import ast
import importlib
import pathlib
import sys
import zipfile
import zipimport

from hadoop_etl_udfs_spark.worker import drop_zip_finders

PKG = pathlib.Path(__file__).resolve().parent.parent / "hadoop_etl_udfs_spark"

# Spark entry points whose first positional argument runs in a Python worker
_KERNEL_TAKERS = {
    "mapInArrow", "applyInArrow", "mapInPandas", "applyInPandas",
    "applyInPandasWithState", "pandas_udf",
}


def _zip_finders():
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def test_drop_zip_finders_keeps_imports_working(tmp_path):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zf_mod_a.py", "VALUE = 'a'\n")
        z.writestr("zf_mod_b.py", "VALUE = 'b'\n")
    sys.path.insert(0, str(archive))
    try:
        assert importlib.import_module("zf_mod_a").VALUE == "a"
        assert str(archive) in _zip_finders()
        drop_zip_finders()
        assert _zip_finders() == []
        # the per-task call PySpark makes; with no zip finder cached it has
        # no archive to re-read, and imports still resolve through the zip
        importlib.invalidate_caches()
        assert importlib.import_module("zf_mod_b").VALUE == "b"
    finally:
        sys.path.remove(str(archive))
        sys.path_importer_cache.pop(str(archive), None)
        sys.modules.pop("zf_mod_a", None)
        sys.modules.pop("zf_mod_b", None)


def _name(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _scope(node):
    """Nodes of a module's or function's body, not descending into nested
    defs (their decorators are read where the def is found)."""
    todo = list(node.body)
    while todo:
        n = todo.pop()
        yield n
        if not isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)
        ):
            todo.extend(ast.iter_child_nodes(n))


def _kernels(tree):
    """(lineno, FunctionDef or None) for every function handed to Spark;
    None when the argument is not a function defined in the module."""

    def visit(scope, env):
        nodes = list(_scope(scope))
        defs = [n for n in nodes if isinstance(n, ast.FunctionDef)]
        env = {**env, **{d.name: d for d in defs}}
        for n in nodes:
            if isinstance(n, ast.Call) and _name(n.func) in _KERNEL_TAKERS:
                arg = n.args[0] if n.args else None
                yield n.lineno, env.get(arg.id) if isinstance(arg, ast.Name) else None
        for d in defs:
            if any(
                _name(x.func if isinstance(x, ast.Call) else x) == "pandas_udf"
                for x in d.decorator_list
            ):
                yield d.lineno, d
        for inner in nodes:
            if isinstance(inner, (ast.FunctionDef, ast.ClassDef)):
                yield from visit(inner, env)

    yield from visit(tree, {})


def _calls_helper_first(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if (
        isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]  # docstring
    first = body[0] if body else None
    return (
        isinstance(first, ast.Expr) and isinstance(first.value, ast.Call)
        and _name(first.value.func) == "drop_zip_finders"
    )


def test_every_kernel_drops_zip_finders_first():
    found, bad = 0, []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for lineno, fn in _kernels(tree):
            found += 1
            where = f"{path.relative_to(PKG.parent)}:{lineno}"
            if fn is None:
                bad.append(f"{where}: kernel is not a named function here")
            elif not _calls_helper_first(fn):
                bad.append(f"{where}: {fn.name} does not call "
                           "drop_zip_finders() first")
    assert not bad, "\n".join(bad)
    # a walker that finds nothing proves nothing: the package hands Spark
    # 16 kernels today
    assert found >= 16, found
