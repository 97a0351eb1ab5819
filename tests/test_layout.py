"""Layout guards: every module of the package is reachable by imports
from an entry point, and neither the package nor the query entry nor the
tools read a ``SPARK_GRAFT_*`` environment knob.

The walk follows ``import``/``from … import`` statements anywhere in a
file (function-level imports included) starting from the declared
query entry, the benchmarks, the tools and the CLI.  A module nothing
reaches is dead code: delete it rather than let it grow back."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "go_parsesyslog_spark"
ENTRY_POINTS = [
    "__spark_entry__.py", "bench.py", "bench_extra.py", "perfbench",
    "tools", os.path.join(PKG, "cli.py"),
]


def _py_files(rel: str) -> list[str]:
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files if f.endswith(".py")
    )


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _package_modules() -> dict[str, str]:
    return {_module_name(p): p for p in _py_files(PKG)}


def _imported(path: str) -> set[str]:
    """Dotted names a file may import: each imported module, its
    parent packages, and ``from X import y`` as both X and X.y.  The
    code base uses absolute imports only."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def reachable_modules() -> set[str]:
    modules = _package_modules()
    todo = [p for e in ENTRY_POINTS for p in _py_files(e)]
    seen = {_module_name(p) for p in todo}
    while todo:
        for name in _imported(todo.pop()):
            if name in modules and name not in seen:
                seen.add(name)
                todo.append(modules[name])
    return seen


def test_every_package_module_is_reachable():
    unreached = sorted(set(_package_modules()) - reachable_modules())
    assert not unreached, f"modules no entry point imports: {unreached}"



# SPARK_GRAFT_* variables the scanned code may read.  Settings come from
# Spark's own configuration (spark-submit flags, get_spark arguments),
# not from a parallel environment layer.
ALLOWED_KNOBS = set()


def test_no_new_environment_knobs():
    found = set()
    for path in (_py_files(PKG) + _py_files("__spark_entry__.py")
                 + _py_files("tools")):
        with open(path, encoding="utf-8") as f:
            found.update(re.findall(r"SPARK_GRAFT_([A-Z0-9_]+)", f.read()))
    assert found <= ALLOWED_KNOBS, sorted(found - ALLOWED_KNOBS)
