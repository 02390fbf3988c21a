"""The driver's walk order, computed from source fingerprints.

The driver checks only the first ``WALK_BUDGET`` names that ``queries()``
returns each round, so the order decides which builders get fresh
independent evidence. A query's *fingerprint* hashes its oracle SQL, its doc
and the source of every ``dumpr_spark`` function and class its builder
reaches (plus the ``repr`` of the module-level constants that code names).
``verified.json`` records each name's latest green driver round and its
fingerprint at that round. ``walk()`` returns first the names with no record
or a changed fingerprint, then the rest, oldest green round first within
each group.

Dependencies shared by more than ``WALK_BUDGET`` registered queries (the
table loader, ``base.t``) are left out of every fingerprint: an edit there
would mark the whole registry stale and the order would fall back to plain
rotation. The full-registry sweeps (tier-1, ``scripts/flake_hunt.py``)
exercise those helpers instead.

Fold a driver round into ``verified.json`` on the tree the driver checked,
before any edit of the next round::

    python -m dumpr_spark.queries.walk CORRECTNESS_r19.json

A green row records ``[round, current fingerprint]``, a checked row that is
not green drops the record, and an unchecked name keeps its record. A change
to what a fingerprint hashes makes the records stale; re-seed them by
fingerprinting each name on the tree of its latest green round.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import inspect
import json
import os
import re
import sys
import textwrap
import types
from collections import Counter

from dumpr_spark.queries.base import REGISTRY

WALK_BUDGET = 50  # names the driver checks per round (every CORRECTNESS_r*.json)
VERIFIED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "verified.json")
_PKG = "dumpr_spark"


def read_source(obj) -> str:
    """The one place source is read, so tests can perturb it."""
    return inspect.getsource(obj)


def _ours(name: str) -> bool:
    return name == _PKG or name.startswith(_PKG + ".")


def _const_text(v) -> str:
    """repr, with set order pinned (a set's repr follows the hash seed)."""
    return repr(sorted(v, key=repr)) if isinstance(v, (set, frozenset)) else repr(v)


def _deps(obj, src: str) -> dict[str, object]:
    """Direct dependencies of one function or class: ``{key: function, class
    or (constant,)}`` for every ``dumpr_spark`` object its source names as a
    global, as ``module.attr``, or through a function-local import. Its own
    decorators are skipped: they run in the enclosing scope (a builder's
    ``@query`` arguments are hashed as the query's oracle and doc)."""
    tree = ast.parse(textwrap.dedent(src))
    tree.body[0].decorator_list = []
    home = obj.__module__
    scope = {k: (home, v) for k, v in vars(sys.modules[home]).items()}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and _ours(node.module or ""):
            mod = importlib.import_module(node.module)
            for a in node.names:
                if not hasattr(mod, a.name):  # a submodule not imported yet
                    importlib.import_module(f"{node.module}.{a.name}")
                scope[a.asname or a.name] = (node.module, getattr(mod, a.name))
    out: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            mod = scope.get(node.value.id, (None, None))[1]
            if isinstance(mod, types.ModuleType) and _ours(mod.__name__) and hasattr(mod, node.attr):
                _add(out, mod.__name__, node.attr, getattr(mod, node.attr))
        elif isinstance(node, ast.Name) and node.id in scope:
            mod, v = scope[node.id]
            _add(out, mod, node.id, v)
    return out


def _add(out: dict, mod: str, name: str, v) -> None:
    if isinstance(v, types.ModuleType):
        return
    if callable(v):
        v = inspect.unwrap(v)
        if isinstance(v, (types.FunctionType, type)) and _ours(v.__module__):
            out[f"{v.__module__}:{v.__qualname__}"] = v
    else:  # a constant, keyed by the module that names it
        out[f"{mod}:{name}"] = (v,)


def fingerprints() -> dict[str, str]:
    """``{name: sha256 hex}`` for every registered query. Computed for the
    whole registry at once: the fan-in cap needs every builder's closure."""
    body: dict[str, str] = {}  # key -> hashed text ("" when there is no source)
    edges: dict[str, list[str]] = {}

    def visit(key: str, obj) -> None:
        if key in body:
            return
        body[key], edges[key] = "", []
        if isinstance(obj, tuple):
            body[key] = _const_text(obj[0])
            return
        try:
            src = read_source(obj)
        except (OSError, TypeError):  # no source, e.g. a namedtuple() class
            return
        deps = _deps(obj, src)
        body[key], edges[key] = src, list(deps)
        for k, v in deps.items():
            visit(k, v)

    closures = {}
    for name, q in REGISTRY.items():
        root = f"{q.fn.__module__}:{q.fn.__qualname__}"
        visit(root, q.fn)
        seen, todo = {root}, [root]
        while todo:
            for k in edges[todo.pop()]:
                if k not in seen:
                    seen.add(k)
                    todo.append(k)
        closures[name] = seen
    fan_in = Counter(k for c in closures.values() for k in c)
    out = {}
    for name, closure in closures.items():
        q = REGISTRY[name]
        h = hashlib.sha256()
        for part in (q.oracle or "", q.doc):
            h.update(part.encode() + b"\0")
        for key in sorted(closure):
            if fan_in[key] <= WALK_BUDGET and body[key]:
                h.update(f"{key}\0{body[key]}\0".encode())
        out[name] = h.hexdigest()
    return out


def load() -> dict[str, list]:
    with open(VERIFIED) as f:
        return json.load(f)


def save(records: dict[str, list]) -> None:
    lines = [f"{json.dumps(n)}: {json.dumps(records[n])}" for n in sorted(records)]
    with open(VERIFIED, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


def walk() -> list[str]:
    """Registered names in walk order: stale (no record, or a changed
    fingerprint) first, then fresh; oldest green round first in each group,
    then by name."""
    records, fps = load(), fingerprints()

    def key(name):
        rnd, fp = records.get(name, (0, None))
        return (fp == fps[name], rnd, name)

    return sorted(REGISTRY, key=key)


def fold(rows: dict[str, dict], rnd: int, records: dict[str, list]) -> dict[str, list]:
    """Fold one round's CORRECTNESS rows into the records."""
    fps = fingerprints()
    out = dict(records)
    for name, row in rows.items():
        if row.get("hash_match") is True and name in fps:
            out[name] = [rnd, fps[name]]
        else:
            out.pop(name, None)
    return out


def main(paths: list[str]) -> None:
    records = load()
    for p in paths:
        m = re.search(r"_r(\d+)\.json$", p)
        if m is None:
            sys.exit(f"{p}: expected a CORRECTNESS_r<N>.json file")
        with open(p) as f:
            records = fold(json.load(f), int(m.group(1)), records)
    save(records)
    print(f"{VERIFIED}: {len(records)} of {len(REGISTRY)} registered names recorded")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
