"""Every import of the package in the repository resolves.

The package imports lazily inside function bodies, so a module that is
deleted or moved can leave an import that fails only when that function
runs. This test reads each Python file of the repository, collects every
``import cyclegraph_spark...`` and ``from cyclegraph_spark... import
name`` at any depth, and checks that each module imports and each name
exists in it (as an attribute or a submodule).
"""

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
DIRS = ["cyclegraph_spark", "jobs", "tools", "tests", "perfbench"]
FILES = ["bench.py", "bench_extra.py", "__spark_entry__.py"]
PKG = "cyclegraph_spark"


def _sources():
    for d in DIRS:
        yield from sorted((ROOT / d).rglob("*.py"))
    for f in FILES:
        yield ROOT / f


def _package_imports(path):
    """(line, module, name or None) for each package import in ``path``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name == PKG or alias.name.startswith(PKG + "."):
                    yield node.lineno, alias.name, None
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module == PKG or node.module.startswith(PKG + "."):
                for alias in node.names:
                    yield node.lineno, node.module, alias.name


def _resolves(module, name):
    try:
        mod = importlib.import_module(module)
    except ImportError as e:
        return f"module does not import: {e}"
    if name is None or name == "*" or hasattr(mod, name):
        return None
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return f"{module} has no name {name}"
    return None


def test_every_package_import_resolves():
    seen = 0
    broken = []
    for path in _sources():
        for line, module, name in _package_imports(path):
            seen += 1
            err = _resolves(module, name)
            if err:
                broken.append(f"{path.relative_to(ROOT)}:{line}: {err}")
    assert seen > 100, seen  # the walk found the repository's imports
    assert not broken, "\n".join(broken)
