"""The worker-kernel hook: stat-checked zipimport invalidation, and the
``@worker_kernel`` decorator on every function the package hands to Spark."""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from crossai_ts_spark import workers
from crossai_ts_spark.workers import worker_kernel

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "crossai_ts_spark"
UDF_CALLS = {"mapInPandas", "applyInPandas", "applyInPandasWithState", "pandas_udf"}
EAGER = sys.version_info < (3, 13)  # zipimport re-reads on invalidate_caches


@pytest.fixture
def fresh_hook(monkeypatch):
    """``install()`` from a clean slate; the original method comes back after."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(workers, "_installed", False)
    monkeypatch.setattr(workers, "_stamps", {})


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding module ``zk_a``; returns a rewrite function."""
    path = str(tmp_path / "kernels.zip")
    names = set()

    def write(modules: dict[str, str]) -> str:
        names.update(modules)
        with zipfile.ZipFile(path, "w") as z:
            for name, src in modules.items():
                z.writestr(f"{name}.py", src)
        return path

    write({"zk_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield write
    for name in names:
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_not_reread(fresh_hook, archive, monkeypatch):
    path = archive({"zk_a": "X = 1\n"})
    assert importlib.import_module("zk_a").X == 1
    reads, real = [], zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    importlib.invalidate_caches()
    if EAGER:
        assert reads.count(path) == 1  # the cost being removed

    workers.install()
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert path not in reads


def test_rewritten_archive_is_reread(fresh_hook, archive):
    archive({"zk_a": "X = 1\n"})
    assert importlib.import_module("zk_a").X == 1
    workers.install()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zk_b")
    archive({"zk_a": "X = 1\n", "zk_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zk_b").Y == 2


def test_install_is_idempotent(fresh_hook):
    workers.install()
    hooked = zipimport.zipimporter.invalidate_caches
    workers.install()
    assert zipimport.zipimporter.invalidate_caches is hooked


def test_install_leaves_lazy_zipimport_alone(fresh_hook, monkeypatch):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    workers.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_worker_kernel_keeps_signature():
    """pyspark picks ``f(pdf)`` vs ``f(key, pdf)`` from the argument count."""
    assert inspect.getfullargspec(worker_kernel(lambda key, pdf: pdf)).args == ["key", "pdf"]
    assert inspect.getfullargspec(worker_kernel(lambda pdf: pdf)).args == ["pdf"]


def test_worker_reports_hook_installed(spark):
    @worker_kernel
    def report(batches):
        import zipimport

        from crossai_ts_spark import workers

        for _ in batches:
            pass
        hooked = zipimport.zipimporter.invalidate_caches.__module__ == workers.__name__
        yield pd.DataFrame({"installed": [workers._installed], "hooked": [hooked]})

    rows = spark.range(0, 2, numPartitions=2).mapInPandas(
        report, "installed boolean, hooked boolean").collect()
    assert len(rows) == 2
    assert all(r.installed and r.hooked == EAGER for r in rows)


# --------------------------------------------------- every kernel is hooked


def _name(node) -> str | None:
    if isinstance(node, ast.Attribute):
        return node.attr
    return node.id if isinstance(node, ast.Name) else None


def _is_hook(node) -> bool:
    return _name(node) == "worker_kernel" or (
        isinstance(node, ast.Call) and _name(node.func) == "worker_kernel")


def unhooked_kernels(src: str, filename: str = "<src>") -> list[str]:
    """Functions passed to a pandas UDF API without ``@worker_kernel``."""
    tree = ast.parse(src, filename)
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    decorators = {id(d) for n in ast.walk(tree) if hasattr(n, "decorator_list")
                  for d in n.decorator_list}

    def resolve(name: str, at: ast.AST):
        """The def or assignment binding ``name`` in the nearest enclosing scope."""
        scope = parents.get(at)
        while scope is not None:
            if isinstance(scope, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Module)):
                for n in ast.walk(scope):
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name == name:
                        return n
                    if isinstance(n, ast.Assign) and any(_name(t) == name for t in n.targets):
                        return n
            scope = parents.get(scope)
        return None

    bad = []
    for node in ast.walk(tree):
        where = f"{filename}:{getattr(node, 'lineno', '?')}"
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names = [_name(d.func if isinstance(d, ast.Call) else d) for d in node.decorator_list]
            if "pandas_udf" in names and "worker_kernel" not in names[names.index("pandas_udf"):]:
                bad.append(f"{where} @pandas_udf {node.name}")
        if not (isinstance(node, ast.Call) and _name(node.func) in UDF_CALLS) or id(node) in decorators:
            continue
        fn = node.args[0] if node.args else next(
            (k.value for k in node.keywords if k.arg in ("func", "f")), None)
        if fn is None or isinstance(fn, ast.Constant) or _is_hook(fn):
            continue  # pandas_udf(returnType) decorator factory, or wrapped in place
        target = resolve(fn.id, node) if isinstance(fn, ast.Name) else None
        ok = (isinstance(target, (ast.FunctionDef, ast.AsyncFunctionDef))
              and any(_is_hook(d) for d in target.decorator_list)) or (
            isinstance(target, ast.Assign) and _is_hook(target.value))
        if not ok:
            bad.append(f"{where} {_name(node.func)}({ast.unparse(fn)[:40]})")
    return bad


def test_every_udf_kernel_has_worker_kernel():
    bad, n_sites = [], 0
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        n_sites += sum(src.count(f".{c}(") for c in UDF_CALLS)
        bad += unhooked_kernels(src, str(path.relative_to(PACKAGE.parent)))
    assert n_sites > 0
    assert not bad, "kernels missing @worker_kernel:\n" + "\n".join(bad)


def test_unhooked_kernel_check_flags_each_form():
    src = '''
def good(df):
    @worker_kernel
    def k(it):
        yield from it
    w = worker_kernel(lambda pdf: pdf)
    return df.mapInPandas(k, "x long").groupBy("a").applyInPandas(w, "x long").groupBy(
        "a").applyInPandas(worker_kernel(lambda pdf: pdf), "x long")

def bad(df):
    def k(it):
        yield from it
    @pandas_udf("double")
    def u(s):
        return s
    return (df.mapInPandas(k, "x long").groupBy("a").applyInPandas(lambda pdf: pdf, "x long")
            .groupBy("a").applyInPandasWithState(undefined, "x long", "s long", "append", "NoTimeout"))
'''
    bad = unhooked_kernels(src)
    assert len(bad) == 4, bad
    assert sorted(b.split(" ", 1)[1].split("(")[0] for b in bad) == sorted(
        ["@pandas_udf u", "mapInPandas", "applyInPandas", "applyInPandasWithState"])
