"""Source hygiene of the `linkgraph` package, checked on its AST (no
Spark): failures stay loud, modules talk to each other through public
names only, and every module is reached from a contract entry point."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "linkgraph"
SOURCES = sorted(PKG.rglob("*.py"))
# The files whose behaviour is the contract: the driver entry, the
# headline bench, the spark-submit runner, the plan dumper, linkbench.
CONTRACT = [
    ROOT / name for name in ("__spark_entry__.py", "bench.py", "run.py", "plans_dump.py")
] + sorted((ROOT / "linkbench").glob("*.py"))


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


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


MODULES = {_module_name(p): p for p in SOURCES}


def _imports(path: Path):
    """(module, imported names) for every import in `path`, function-local
    ones included. The code uses absolute imports only."""
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.name, ()
        elif isinstance(node, ast.ImportFrom):
            yield node.module or "", tuple(a.name for a in node.names)


def _resolve(module: str, names: tuple) -> set[str]:
    """The linkgraph modules whose code `from module import names`
    reaches. A name a package `__init__` re-exports resolves to the
    submodule that defines it, so a re-export alone reaches nothing."""
    if module not in MODULES:
        return set()
    parts = module.split(".")
    hit = {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    is_pkg = MODULES[module].name == "__init__.py"
    for name in names:
        if f"{module}.{name}" in MODULES:
            hit |= _resolve(f"{module}.{name}", ())
        elif is_pkg:
            for sub, subnames in _imports(MODULES[module]):
                if name in subnames:
                    hit |= _resolve(sub, (name,))
    return hit


def test_every_module_reached_from_contract():
    """Code that no contract path imports is kept green for nothing:
    a module is either reached from a contract entry point or deleted."""
    reached: set[str] = set()
    todo = list(CONTRACT)
    while todo:
        for module, names in _imports(todo.pop()):
            for m in _resolve(module, names) - reached:
                reached.add(m)
                if MODULES[m].name != "__init__.py":
                    todo.append(MODULES[m])
    unreached = sorted(set(MODULES) - reached)
    assert not unreached, f"modules no contract path imports: {unreached}"
