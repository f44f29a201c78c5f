"""The kept tools still match the package they drive.

The tools, bench.py and __spark_entry__.py import the engine lazily,
inside their functions, so a rename in the package breaks them only when
they next run. These checks resolve every such import, every query name
the benchmarks pin, and every name the package's modules export, without
starting Spark.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
import pkgutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SCRIPTS = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py"))) + [
    os.path.join(ROOT, "bench.py"),
    os.path.join(ROOT, "__spark_entry__.py"),
]
PACKAGES = ("query_engine_spark", "tools")


def _package_imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every import of PACKAGES in the file, at any
    depth; name is None for a plain `import module`."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module and node.module.split(".")[0] in PACKAGES:
            found += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            found += [(node.lineno, a.name, None) for a in node.names if a.name.split(".")[0] in PACKAGES]
    return found


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: os.path.relpath(p, ROOT))
def test_package_imports_resolve(path):
    unresolved = []
    for line, module, name in _package_imports(path):
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            unresolved.append(f"{line}: {module} ({e})")
            continue
        if name is None or hasattr(mod, name):
            continue
        if not (hasattr(mod, "__path__") and importlib.util.find_spec(f"{module}.{name}")):
            unresolved.append(f"{line}: {module}.{name}")
    assert not unresolved


def test_pinned_bench_queries_are_registered():
    import bench
    from query_engine_spark.registry import REGISTRY
    from tools import bench_sfx

    pinned = bench.HEADLINE + bench_sfx.HEAVY10
    assert [n for n in pinned if n not in REGISTRY] == []


def test_every_exported_name_exists():
    """A stale `__all__` entry breaks `from module import *`."""
    import query_engine_spark

    modules = ["query_engine_spark"] + [
        m.name for m in pkgutil.walk_packages(query_engine_spark.__path__, "query_engine_spark.")
    ]
    stale = []
    for name in modules:
        mod = importlib.import_module(name)
        stale += [f"{name}.{n}" for n in getattr(mod, "__all__", ()) if not hasattr(mod, n)]
    assert not stale


def _function_bodies(path: str) -> list[tuple[str, int, str]]:
    """(name, line, body dump) for every function and closure in the file
    whose body, docstring excluded, spans 4 or more lines."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        body = node.body
        if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant) and isinstance(body[0].value.value, str):
            body = body[1:]
        if body and body[-1].end_lineno - body[0].lineno + 1 >= 4:
            found.append((node.name, node.lineno, "\n".join(ast.dump(s) for s in body)))
    return found


def test_no_duplicate_function_bodies():
    """Two functions (or closures) with the same body are one helper
    written twice; the copies drift apart when one of them is fixed."""
    seen: dict[str, list[str]] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "query_engine_spark", "**", "*.py"), recursive=True)):
        for name, line, dump in _function_bodies(path):
            seen.setdefault(dump, []).append(f"{os.path.relpath(path, ROOT)}:{line} {name}")
    assert [sites for sites in seen.values() if len(sites) > 1] == []
