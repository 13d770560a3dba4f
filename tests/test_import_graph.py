"""Orphan guard: every module of the package is reachable, through imports,
from an entry point (a ``jobs/*.py`` script, a ``perfbench/*.py``
benchmark module or the ``__spark_entry__.py`` query registry).  A module
nothing ships with is dead code; this test fails as soon as one appears.
Pure AST walk, no Spark."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "node_feedparser_spark"


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


def _imported(path: str, name: str) -> set[str]:
    """Dotted names a file imports, including each parent package."""
    package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1])
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for n in names:
        parts = n.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def test_every_package_module_is_reachable_from_an_entry_point():
    modules = {
        _module_name(p): p
        for p in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)
    }
    roots = (
        glob.glob(os.path.join(ROOT, "jobs", "*.py"))
        + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
        + [os.path.join(ROOT, "__spark_entry__.py")]
    )
    assert roots
    stack = [(p, _module_name(p)) for p in roots]
    seen: set[str] = set()
    while stack:
        path, name = stack.pop()
        for m in _imported(path, name) & modules.keys() - seen:
            seen.add(m)
            stack.append((modules[m], m))
    orphans = sorted(modules.keys() - seen)
    assert not orphans, orphans
