"""Every ``from dumpr_spark... import name`` in the measurement scripts
(`scripts/*.py`) and the benchmark harness (`perfbench/*.py`) resolves, so
renaming or deleting an internal name fails the suite instead of the next
run of a harness. The files are parsed, not run: no Spark session starts."""

from __future__ import annotations

import ast
import glob
import importlib
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _imports():
    """``(file, line, module, name)`` for each imported name."""
    for path in sorted(glob.glob(os.path.join(REPO, "scripts", "*.py"))
                       + glob.glob(os.path.join(REPO, "perfbench", "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if (isinstance(node, ast.ImportFrom) and node.level == 0
                    and node.module.split(".")[0] == "dumpr_spark"):
                for alias in node.names:
                    yield os.path.relpath(path, REPO), node.lineno, node.module, alias.name


def _resolves(module: str, name: str) -> bool:
    if hasattr(importlib.import_module(module), name):
        return True
    try:  # a submodule: `from dumpr_spark.streaming import sink`
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_script_and_harness_imports_resolve():
    found = list(_imports())
    assert found, "no dumpr_spark imports found in scripts/ or perfbench/"
    broken = [f"{path}:{line}: from {module} import {name}"
              for path, line, module, name in found if not _resolves(module, name)]
    assert not broken, "unresolvable imports:\n" + "\n".join(broken)
