"""Every top-level function and class in the package has a production
caller: code outside its own definition in the package, bench.py,
__spark_entry__.py or perfbench/ refers to it -- a name, an attribute,
an import, or an identifier string (perfbench wraps functions by
name). Prose does not count: a docstring or comment that mentions a
definition is no caller. A definition only tests reach is a second
implementation in waiting; it either gets a caller, gets deleted, or
is listed below with the reason it stays."""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "cassandra_sstable_to_protocolbuf_spark"

# name -> why it stays without a production caller (one line each)
ALLOWED: dict[str, str] = {
    "emb_cosine_all_pairs": "the exact twin the ANN recall test "
                            "measures emb_ann_topk against",
}


def _sources() -> list[pathlib.Path]:
    return sorted([*PACKAGE.rglob("*.py"), REPO / "bench.py",
                   REPO / "__spark_entry__.py",
                   *(REPO / "perfbench").rglob("*.py")])


def _top_level_defs(path: pathlib.Path):
    tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            first = min([node.lineno]
                        + [d.lineno for d in node.decorator_list])
            yield node.name, first, node.end_lineno


def _references(path: pathlib.Path):
    """(line, name) for every reference in `path`'s code: Name and
    Attribute nodes, imported names, and string constants that are
    identifiers."""
    tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.lineno, node.id
        elif isinstance(node, ast.Attribute):
            yield node.lineno, node.attr
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                for part in alias.name.split("."):
                    yield node.lineno, part
        elif isinstance(node, ast.Constant) \
                and isinstance(node.value, str) \
                and node.value.isidentifier():
            yield node.lineno, node.value


def _orphans() -> list[str]:
    refs: dict[str, list] = defaultdict(list)  # name -> [(path, line)]
    for p in _sources():
        for line, name in _references(p):
            refs[name].append((p, line))
    orphans = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for name, first, last in _top_level_defs(path):
            if all(p == path and first <= line <= last
                   for p, line in refs[name]):
                orphans.append(f"{path.relative_to(REPO)}:{first} {name}")
    return orphans


def test_no_orphan_definitions():
    unexpected = [o for o in _orphans() if o.split()[-1] not in ALLOWED]
    assert not unexpected, (
        "top-level definitions with no caller outside tests -- delete "
        "them or add an ALLOWED entry with its reason:\n"
        + "\n".join(unexpected))


def test_allowlist_is_current():
    """An ALLOWED name that gained a caller (or was deleted) leaves."""
    orphaned = {o.split()[-1] for o in _orphans()}
    assert sorted(set(ALLOWED) - orphaned) == []


def _module_name(path: pathlib.Path) -> str:
    return ".".join(path.relative_to(REPO).with_suffix("").parts)


def _imported_modules(path: pathlib.Path) -> set[str]:
    """Dotted names `path` imports: `import a.b` gives a.b, and
    `from a import b` gives a and a.b (b may be a submodule); relative
    imports resolve against the importing file's package."""
    package = _module_name(path).split(".")[:-1]
    tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[:len(package) - node.level + 1] \
                if node.level else []
            mod = ".".join(base + (node.module.split(".")
                                   if node.module else []))
            out.add(mod)
            out.update(f"{mod}.{alias.name}" for alias in node.names)
    return out


def test_every_module_is_imported():
    """Every package module (bar __init__ and __main__) is imported by
    another file of the same source set: a module only tests import is
    an orphan as a whole."""
    sources = _sources()
    imported = {p: _imported_modules(p) for p in sources}
    orphans = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name in ("__init__.py", "__main__.py"):
            continue
        name = _module_name(path)
        if not any(name in mods for p, mods in imported.items()
                   if p != path):
            orphans.append(str(path.relative_to(REPO)))
    assert not orphans, (
        "package modules nothing outside tests imports -- delete them "
        "or give them a caller:\n" + "\n".join(orphans))
