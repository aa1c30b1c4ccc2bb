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



def _engine_options() -> dict[str, list[str]]:
    """The caller-settable options of the Pregel engine, read from
    `linkgraph/pregel.py`: the defaulted `PregelSpec` fields, and every
    parameter of `pregel_run` and `fixpoint` past the leading required
    positional ones (graph, spec / algo)."""
    tree = ast.parse((PKG / "pregel.py").read_text())
    opts: dict[str, list[str]] = {}
    for node in tree.body:
        if isinstance(node, ast.ClassDef) and node.name == "PregelSpec":
            opts["PregelSpec"] = [
                s.target.id
                for s in node.body
                if isinstance(s, ast.AnnAssign) and s.value is not None
            ]
        elif isinstance(node, ast.FunctionDef) and node.name in ("pregel_run", "fixpoint"):
            a = node.args
            positional = a.posonlyargs + a.args
            required = len(positional) - len(a.defaults)
            opts[node.name] = [x.arg for x in positional[required:] + a.kwonlyargs]
    return opts


def _is_spec_annotation(ann) -> bool:
    return (isinstance(ann, ast.Name) and ann.id == "PregelSpec") or (
        isinstance(ann, ast.Constant) and ann.value == "PregelSpec"
    )


def _set_options(paths) -> dict[str, set[str]]:
    """The options each engine entry point is given by some call in
    `paths`: keywords (and positionals past the required ones) of
    `pregel_run(...)` / `fixpoint(...)`, and keywords of `PregelSpec(...)`
    or of a `dataclasses.replace(spec, ...)` whose first argument is a
    spec: a call of `PregelSpec` or of a function annotated to return
    one, or a name bound to such a call or annotated `PregelSpec`. A
    `replace` that is not `dataclasses.replace` (`DataFrame.replace`,
    `str.replace`) or that copies some other dataclass sets no option."""
    params = {
        node.name: [x.arg for x in node.args.posonlyargs + node.args.args]
        for node in ast.parse((PKG / "pregel.py").read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name in ("pregel_run", "fixpoint")
    }
    trees = [ast.parse(path.read_text(), filename=str(path)) for path in paths]
    producers = {"PregelSpec"} | {
        node.name
        for tree in trees
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef) and _is_spec_annotation(node.returns)
    }

    def call_name(node):
        f = node.func
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

    got: dict[str, set[str]] = {"PregelSpec": set(), "pregel_run": set(), "fixpoint": set()}
    for tree in trees:
        modules = {
            a.asname or a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.Import)
            for a in n.names
            if a.name == "dataclasses"
        }
        replaces = {
            a.asname or a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom) and n.module == "dataclasses"
            for a in n.names
            if a.name == "replace"
        }
        specs = {
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign)
            and isinstance(n.value, ast.Call)
            and call_name(n.value) in producers
            for t in n.targets
            if isinstance(t, ast.Name)
        } | {
            n.arg
            for n in ast.walk(tree)
            if isinstance(n, ast.arg) and _is_spec_annotation(n.annotation)
        }

        def is_spec(node) -> bool:
            if isinstance(node, ast.Call):
                return call_name(node) in producers
            return isinstance(node, ast.Name) and node.id in specs

        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = call_name(node)
            kws = {k.arg for k in node.keywords if k.arg is not None}
            is_replace = (isinstance(f, ast.Name) and f.id in replaces) or (
                isinstance(f, ast.Attribute)
                and f.attr == "replace"
                and isinstance(f.value, ast.Name)
                and f.value.id in modules
            )
            if name == "PregelSpec" or (is_replace and node.args and is_spec(node.args[0])):
                got["PregelSpec"] |= kws
            elif name in params:
                got[name] |= kws | set(params[name][: len(node.args)])
    return got


def test_set_options_counts_only_spec_replace(tmp_path):
    """Only `dataclasses.replace` of a spec sets a spec field: a
    `.replace(...)` of a DataFrame or a copy of another dataclass with
    a keyword of the same name does not."""
    src = tmp_path / "m.py"
    src.write_text(
        "import dataclasses\n"
        "from dataclasses import replace\n"
        "def make() -> PregelSpec: ...\n"
        "def f(g: Graph, base: PregelSpec, df):\n"
        "    spec = make()\n"
        "    replace(spec, halt=None)\n"
        "    dataclasses.replace(base, metrics={})\n"
        "    replace(make(), state_cols=())\n"
        "    replace(g, edges=None)\n"
        "    df.replace(frontier_filter=1)\n"
        "    df.na.replace(links_key=1)\n"
    )
    assert _set_options([src])["PregelSpec"] == {"halt", "metrics", "state_cols"}


def test_every_engine_option_has_a_caller():
    """An engine option that no code outside the tests sets is a second
    path kept green for nothing: every defaulted `PregelSpec` field and
    every optional parameter of `pregel_run` / `fixpoint` is set by some
    call in `linkgraph/` or a contract file, or it is deleted. A test
    that needs another partition count monkeypatches
    `linkgraph.pregel.loop_partitions` instead of adding a knob."""
    options = _engine_options()
    assert "frontier_filter" in options["PregelSpec"]
    assert "checkpointer" in options["pregel_run"]
    got = _set_options(SOURCES + CONTRACT)
    unused = {
        entry: sorted(set(names) - got[entry])
        for entry, names in options.items()
        if set(names) - got[entry]
    }
    assert not unused, f"engine options no caller sets: {unused}"


# Public names that only tests reach, each kept for the reason given.
TEST_ONLY = {
    "linkgraph.fixtures.pagerank_numpy": "the dense NumPy PageRank the golden and property tests compare against",
    "linkgraph.fixtures.triangles_python": "the pure-Python triangle count the golden tests compare against",
    "linkgraph.fixtures.g3_star_edges": "the star-graph fixture of the components and resume tests",
    "linkgraph.algorithms.triangles.triangles_sql_plan": "the SQL-form reference plan of a golden triangle test",
    "linkgraph.csr.csr_stats": "the layout statistics the CSR scatter tests check",
    "linkgraph.corpus.verify_corpus_invariant": "the sha256 corpus check the corpus tests run",
    "linkgraph.corpus.unresolved_imports": "the unresolved-import report the corpus tests check",
    "linkgraph.pipeline.similarity.cosine_topk": "the brute-force baseline the IVF recall tests compare against",
    "linkgraph.corpus.extract_imports_arrow": "the Arrow extractor the corpus tests pin to the regex one; ROADMAP item 5 decides its fate",
}


def _referenced(tree, skip=None) -> set[str]:
    """Every name `tree` uses as a name, an attribute or an import,
    outside the subtree `skip`; strings and docstrings do not count."""
    out: set[str] = set()
    todo = [tree]
    while todo:
        node = todo.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.split(".")[-1])
        todo.extend(ast.iter_child_nodes(node))
    return out


def _uncalled_public() -> list[str]:
    """The public module-level functions and classes of `linkgraph/`
    that no contract file, no other non-`__init__` linkgraph module and
    no code of their own module outside their body refers to."""
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in SOURCES}
    outside = set().union(
        *(_referenced(ast.parse(p.read_text(), filename=str(p))) for p in CONTRACT)
    )
    by_module = {
        p: _referenced(t) for p, t in trees.items() if p.name != "__init__.py"
    }
    bad = []
    for path, tree in trees.items():
        others = outside.union(*(r for p, r in by_module.items() if p != path))
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_") or node.name in others:
                continue
            if node.name not in _referenced(tree, skip=node):
                bad.append(f"{_module_name(path)}.{node.name}")
    return sorted(bad)


def test_every_public_function_has_a_caller():
    """A public function or class that only tests call is a second
    surface kept green for nothing: it is reached from a contract file,
    from another linkgraph module or from its own module, or it is
    deleted. The few that only tests reach are listed in TEST_ONLY with
    the reason each is kept."""
    uncalled = _uncalled_public()
    stale = sorted(set(TEST_ONLY) - set(uncalled))
    assert not stale, f"TEST_ONLY entries that code now reaches or that are gone: {stale}"
    extra = sorted(set(uncalled) - set(TEST_ONLY))
    assert not extra, f"public names only tests reach: {extra}"
