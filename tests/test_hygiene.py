"""Source hygiene of the `linkgraph` package, checked on its AST (no
Spark): failures stay loud, and modules talk to each other through
public names only."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "linkgraph"
SOURCES = sorted(PKG.rglob("*.py"))


def _nodes(kind):
    for path in SOURCES:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, kind):
                yield f"{path.relative_to(PKG.parent)}:{node.lineno}", node


def _catches_everything(handler: ast.ExceptHandler) -> bool:
    if handler.type is None:  # bare `except:`
        return True
    types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
    return any(
        isinstance(t, ast.Name) and t.id in ("Exception", "BaseException")
        for t in types
    )


def test_sources_found():
    assert len(SOURCES) > 10


def test_no_catch_all_except():
    """A catch-all handler can swallow a real Spark job failure; catch
    the specific error a probe expects instead."""
    bad = [
        where for where, h in _nodes(ast.ExceptHandler) if _catches_everything(h)
    ]
    assert not bad, f"catch-all except at {bad}"


def test_no_private_cross_module_import():
    """`from linkgraph.x import _name` couples a module to another's
    internals; what is shared gets a public name."""
    bad = [
        f"{where} {a.name}"
        for where, n in _nodes(ast.ImportFrom)
        if n.level > 0 or (n.module or "").split(".")[0] == "linkgraph"
        for a in n.names
        if a.name.startswith("_")
    ]
    assert not bad, f"private names imported across modules: {bad}"
