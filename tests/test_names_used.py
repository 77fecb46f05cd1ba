"""No name that nothing uses: every top-level function, class and constant
of ``jvector_spark/`` is referenced somewhere outside its own definition,
in the package, the tests, the tools, the benchmark or the driver entry
point. Dunder names are exempt. Spark-free: the sources are parsed with
``ast``."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "jvector_spark"
USERS = [PACKAGE, REPO / "tests", REPO / "tools", REPO / "perfbench",
         REPO / "bench.py", REPO / "__spark_entry__.py"]


def _sources() -> list[Path]:
    out = []
    for p in USERS:
        out += sorted(p.rglob("*.py")) if p.is_dir() else [p] if p.exists() else []
    return out


def _defined(tree: ast.Module) -> dict[str, tuple[int, int]]:
    """{name: (first line, last line)} of a module's top-level definitions."""
    out = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = min([node.lineno, *(d.lineno for d in node.decorator_list)])
            out[node.name] = (first, node.end_lineno)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        out[n.id] = (node.lineno, node.end_lineno)
    return {k: v for k, v in out.items() if not (k.startswith("__") and k.endswith("__"))}


def _references(tree: ast.Module) -> list[tuple[str, int]]:
    """(name, line) of every name a module reads, every attribute it
    names and every name it imports."""
    out = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.append((n.id, n.lineno))
        elif isinstance(n, ast.Attribute):
            out.append((n.attr, n.lineno))
        elif isinstance(n, ast.alias):
            out.append((n.name.rsplit(".", 1)[-1], n.lineno))
    return out


def test_every_top_level_name_in_the_package_is_used():
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _sources()}
    used: dict[str, list[tuple[Path, int]]] = {}
    for p, tree in trees.items():
        for name, line in _references(tree):
            used.setdefault(name, []).append((p, line))
    unused = []
    for p, tree in trees.items():
        if PACKAGE not in p.parents:
            continue
        for name, (first, last) in _defined(tree).items():
            if not any(q != p or not first <= line <= last
                       for q, line in used.get(name, [])):
                unused.append(f"{p.relative_to(REPO)}:{first} {name}")
    assert not unused, "defined but never used:\n" + "\n".join(unused)
