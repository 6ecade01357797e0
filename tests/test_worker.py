"""worker.drop_zip_finders and the rule that every kernel calls it first,
plus the census that keeps the package free of code only tests reach.

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
    defs (their decorators are read where the def is found). Lambda bodies
    are walked: a kernel handed to Spark inside a lambda still counts."""
    todo = list(node.body)
    while todo:
        n = todo.pop()
        yield n
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
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
    # 19 kernels today
    assert found >= 19, found


def test_kernel_walker_descends_into_lambdas():
    tree = ast.parse(
        "def k(batches):\n"
        "    yield from batches\n"
        "\n"
        "x = lambda d: d.mapInArrow(k, s)\n"
    )
    kernels = list(_kernels(tree))
    assert [(lineno, fn.name) for lineno, fn in kernels] == [(4, "k")]
    assert not _calls_helper_first(kernels[0][1])


# Top-level package names that nothing outside tests/ references, each kept
# for the reason given. Any other such name is code only tests reach: delete
# it with its tests, or add it here with its reason.
_TEST_ONLY = {
    "read_pages": "reference S1: format-dispatched scan",
    "supported_formats": "the format list that read_pages dispatches on",
    "save_catalog_table": "reference S9: catalog-backed sink",
    "read_catalog_table": "reference S9: name-based catalog read",
    "export_with_ddl": "reference S11: export after DDL pre-statements",
    "decode_chunks_where": "zone-map range read, until one sink scan planner replaces it",
    "sink_bloom_columns": "public answer to which columns carry blooms",
}

# everything outside tests/ that may call into the package
_CALLERS = [
    PKG, PKG.parent / "jobs", PKG.parent / "perfbench", PKG.parent / "tools",
    PKG.parent / "__spark_entry__.py", PKG.parent / "bench.py",
]


def _referenced_names(paths) -> set[str]:
    """Every name read, attribute taken or name imported in ``paths``."""
    names = set()
    for path in paths:
        for n in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.alias):
                names.add(n.name.rsplit(".", 1)[-1])
    return names


def _top_level_names(tree):
    """(lineno, name) of a module's top-level defs, classes and assignments."""
    for n in tree.body:
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield n.lineno, n.name
        elif isinstance(n, (ast.Assign, ast.AnnAssign)):
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    yield n.lineno, t.id


def test_every_package_name_has_a_caller_outside_tests():
    files = [f for p in _CALLERS for f in ([p] if p.is_file() else p.rglob("*.py"))]
    used = _referenced_names(files)
    unused = [
        (name, f"{path.relative_to(PKG.parent)}:{lineno}: {name}")
        for path in sorted(PKG.rglob("*.py"))
        for lineno, name in _top_level_names(ast.parse(path.read_text()))
        if name not in used and not name.startswith("__")
    ]
    dead = [where for name, where in unused if name not in _TEST_ONLY]
    assert not dead, "only tests reach:\n" + "\n".join(dead)
    # an entry whose name gained a caller or left the package is stale
    stale = sorted(set(_TEST_ONLY) - {name for name, _ in unused})
    assert not stale, stale
