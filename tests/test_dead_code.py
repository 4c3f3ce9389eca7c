"""Guard: no top-level function or class in ``hex2vec_spark/`` that
nothing reaches.

A def counts as reached when its name appears anywhere in the library,
``__spark_entry__.py``, ``bench.py``, ``tools/``, ``perfbench/`` or
``tests/`` as a loaded name, as an attribute that is not on ``self``
(``module.fn``), as an imported name, or as a key of the package's lazy
``__getattr__`` map. The match is by name only, so it misses a dead def
that shares its name with a live one; a def reached only through some
other string (``getattr``) would be reported, and the lazy map is the
one such path in the package.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "hex2vec_spark"


def _sources() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("hex2vec_spark", "tools", "perfbench", "tests"):
        files += sorted((ROOT / d).rglob("*.py"))
    return [f for f in files if f.exists()]


def _references(tree: ast.AST) -> set[str]:
    refs = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            if not (isinstance(node.value, ast.Name) and node.value.id == "self"):
                refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
    return refs


def _lazy_api_names() -> set[str]:
    tree = ast.parse((PACKAGE / "__init__.py").read_text())
    return {
        k.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Dict)
        for k in node.keys
        if isinstance(k, ast.Constant) and isinstance(k.value, str)
    }


def unreferenced_defs() -> list[str]:
    defs, refs = [], _lazy_api_names()
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        refs |= _references(tree)
        if PACKAGE in path.parents:
            rel = path.relative_to(ROOT)
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    defs.append((str(rel), node.name))
    return sorted(
        f"{rel}:{name}"
        for rel, name in defs
        if name not in refs and not (name.startswith("__") and name.endswith("__"))
    )


def test_no_unreferenced_top_level_defs():
    assert unreferenced_defs() == []
