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
import re
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


# Reach guard. The system is the KG factory and the query registry, so
# every module-level function and class of the package must be reachable
# by name from one of the roots below. Code that only its own tests call
# is not part of the system.
ROOT_DIRS = ["jobs", "tools", "perfbench"]  # and FILES
# Unreached on purpose, one line of reason each.
UNREACHED_OK = {
    # the store's deduplicated-triples layout; wiring it into
    # jobs/build_kg.py would change the job's output
    "compact_store",
    # precondition check of the composite melt gates, run by their tests
    "melt_contract_violations",
}
_IDENT = re.compile(r"[A-Za-z_]\w*")


def _names(node):
    """Every identifier ``node`` refers to by name or attribute."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _string_idents(tree):
    """Identifiers inside the string literals of a script outside the
    package: they carry child-process scripts and patch tables of names."""
    return {
        w
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
        for w in _IDENT.findall(n.value)
    }


def _is_query(fn):
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in fn.decorator_list
    )


def test_every_package_definition_is_reached():
    defs = {}  # name -> [(relpath, node)]
    seed = {"run_pipeline"}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        for node in ast.parse(path.read_text(), filename=rel).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((rel, node))
                # the registry, the oracles, and the Python twin of
                # Spark's xxhash64 that the VALUES oracles are built on
                if (
                    _is_query(node)
                    or node.name.startswith("reference_")
                    or rel.endswith("functions/xxh64.py")
                ):
                    seed.add(node.name)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                seed |= _names(node)  # runs at import time
    outside = [ROOT / f for f in FILES]
    outside += [p for d in ROOT_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    for path in outside:
        tree = ast.parse(path.read_text(), filename=str(path))
        seed |= _names(tree) | _string_idents(tree)

    reached, todo = set(), [n for n in seed if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _rel, node in defs[name]:
            todo += [n for n in _names(node) if n in defs and n not in reached]

    unreached = sorted(
        f"{rel}::{name}"
        for name, where in defs.items()
        if name not in reached and name not in UNREACHED_OK
        for rel, _node in where
    )
    assert not unreached, (
        "defined in the package but reached from neither the factory nor "
        "the registry (delete them, or wire them in):\n" + "\n".join(unreached)
    )
    stale = sorted(n for n in UNREACHED_OK if n not in defs or n in reached)
    assert not stale, f"UNREACHED_OK entries now gone or reached: {stale}"


def test_perfbench_traced_names_resolve():
    """``perfbench/layers.py`` traces the factory by patching names on
    ``plans.pipeline`` (``PIPELINE_CALLS``) and ``operators.nodes``
    (``node_table``); a name that no longer resolves there breaks only
    the traced benchmark run."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("layers", ROOT / "perfbench" / "layers.py")
    layers = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(layers)
    pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
    nodes = importlib.import_module(f"{PKG}.operators.nodes")
    missing = sorted(n for n in layers.PIPELINE_CALLS if not callable(getattr(pipeline, n, None)))
    assert not missing, f"perfbench traces names plans.pipeline lacks: {missing}"
    assert callable(getattr(nodes, "node_table", None))
