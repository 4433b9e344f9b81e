"""Static checks on the ``queries()`` literal in ``__spark_entry__.py``."""

from __future__ import annotations

import ast
import os

ENTRY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "__spark_entry__.py",
)


def test_queries_literal_has_no_duplicate_keys():
    """A repeated key in the ``queries()`` dict literal is silent in
    Python — the later value wins while the key keeps its first slot —
    so check the literal itself, not the built dict."""
    with open(ENTRY) as f:
        tree = ast.parse(f.read())
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "queries"
    )
    literal = next(n for n in ast.walk(fn) if isinstance(n, ast.Dict))
    keys = [k.value for k in literal.keys]
    dups = sorted({k for k in keys if keys.count(k) > 1})
    assert not dups, dups
