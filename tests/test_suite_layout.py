"""The layout of this test suite, checked with the stdlib ``ast``: no
test module binds a top-level name twice (a merge that shadows a
``test_*`` function would otherwise drop it silently)."""

from __future__ import annotations

import ast
import os
from collections import Counter

TESTS = os.path.dirname(os.path.abspath(__file__))
MODULES = sorted(f for f in os.listdir(TESTS) if f.endswith(".py"))


def _bound(node) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        return [(a.asname or a.name).split(".")[0] for a in node.names]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    elts = [e for t in targets for e in (t.elts if isinstance(t, ast.Tuple) else [t])]
    return [e.id for e in elts if isinstance(e, ast.Name)]


def test_no_test_module_binds_a_name_twice():
    twice = {}
    for f in MODULES:
        with open(os.path.join(TESTS, f)) as fh:
            tree = ast.parse(fh.read())
        counts = Counter(n for node in tree.body for n in _bound(node))
        dups = sorted(n for n, c in counts.items() if c > 1)
        if dups:
            twice[f] = dups
    assert twice == {}
