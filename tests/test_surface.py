"""Reachability of the package surface.

Every top-level function, class and constant of ``bloomjoin_spark``
must be reached from something outside the tests: the driver contract
(``__spark_entry__.py``), the benchmarks (``bench.py``,
``bench_extra.py``, ``perfbench/*.py``), the scripts, or the package's
own module-level statements.  A definition that only tests call is
dead surface.  The scan is a plain AST walk, so it runs no Spark.

The scan matches names generously: a definition is reached when any
reached body mentions its name, as a name, an attribute or a whole
string constant (a ``getattr`` lookup), in any module.  Docstrings are
stripped first, so naming a function in prose does not keep it alive.
Imports are not mentions, and ``__all__`` is skipped, so a re-export
in an ``__init__`` does not keep a name alive either.

``KEEP`` holds the few definitions that nothing reaches on purpose:
PARITY.md maps each to a row, so it is public API, not dead code.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "bloomjoin_spark"

#: unreached on purpose: name -> the PARITY.md row that maps it
KEEP = {
    "hash_keys32": "O13 composite-key hash (public)",
    "hash_keys_pandas": "O13 composite-key hash (public)",
    "format_bloom_params": "O12 bloom_params report",
    "hash_sample": "deterministic Bernoulli sample + per-stratum training-mix rates",
    "StreamingSketchCollector": "streaming sketch-store sink",
    "iceberg_session_conf": "Iceberg catalog round-trip",
}


def _root_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py"]
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    return files


def _strip_docstrings(tree: ast.AST) -> ast.AST:
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                node.body = body[1:] or [ast.Pass()]
    return tree


def _mentions(nodes) -> set[str]:
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
            elif isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                out.add(sub.value)
    return out


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    names = [n for t in targets for n in (t.elts if isinstance(t, ast.Tuple) else [t])]
    return [n.id for n in names if isinstance(n, ast.Name)]


def package_surface() -> tuple[dict[str, list[ast.stmt]], list[ast.stmt]]:
    """``({name: [its definitions]}, [module-level statements])`` over
    every module of the package."""
    defs: dict[str, list[ast.stmt]] = {}
    top: list[ast.stmt] = []
    for path in sorted(PKG.rglob("*.py")):
        tree = _strip_docstrings(ast.parse(path.read_text(), str(path)))
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue  # a re-export is not a use
            names = _defined_names(stmt)
            if any(n.startswith("__") for n in names):
                continue  # __all__, __version__: a list of names is not a use
            for n in names:
                defs.setdefault(n, []).append(stmt)
            if not names:
                top.append(stmt)
    return defs, top


def unreached() -> set[str]:
    defs, top = package_surface()
    roots = [_strip_docstrings(ast.parse(p.read_text(), str(p))) for p in _root_files()]
    frontier = _mentions(roots + top)
    reached: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in reached or name not in defs:
            continue
        reached.add(name)
        frontier |= _mentions(defs[name]) - reached
    return set(defs) - reached


def test_only_the_parity_api_is_unreached():
    dead, keep = unreached(), set(KEEP)
    assert not dead - keep, f"only tests reach: {sorted(dead - keep)}"
    assert not keep - dead, f"reached or gone, drop from KEEP: {sorted(keep - dead)}"
