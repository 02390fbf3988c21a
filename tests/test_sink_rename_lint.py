"""Source lint: one write-and-swap path for streaming sink state. Within
`dumpr_spark/streaming/`, `os.rename` may appear only in
`MergeSink._commit` (the swap), `MergeSink._recover` (restoring a torn
swap's backup) and `_move_into` (assembling the next state version), so a
new maintenance rewrite cannot grow its own staging and backup names that
crash recovery does not know about.
"""

from __future__ import annotations

import ast
import os

import dumpr_spark.streaming as streaming

RENAME_ALLOWED = {"_commit", "_recover", "_move_into"}


def _renames(path: str):
    """(enclosing function name or None, line) of every `os.rename`
    reference in the module at `path`."""
    tree = ast.parse(open(path).read(), path)
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (isinstance(node, ast.Attribute) and node.attr == "rename"
                and isinstance(node.value, ast.Name) and node.value.id == "os"):
            found.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_os_rename_only_in_the_swap_path():
    root = os.path.dirname(streaming.__file__)
    offenders, seen = [], set()
    for name in sorted(os.listdir(root)):
        if not name.endswith(".py"):
            continue
        for func, line in _renames(os.path.join(root, name)):
            seen.add(func)
            if func not in RENAME_ALLOWED:
                offenders.append(f"{name}:{line} in {func}")
    assert not offenders, offenders
    # the lint must see the swap itself, or it is reading the wrong tree
    assert seen == RENAME_ALLOWED
