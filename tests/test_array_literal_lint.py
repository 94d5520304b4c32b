"""Per-element array-literal linter.

``F.array(*[F.lit(v) for v in values])`` makes one py4j round trip per
element, so building a plan around a 256-wide runtime vector this way
costs ~150 ms of driver time on a 4-core VM before any job starts.
Runtime vectors (query embeddings, hyperplanes, centroids) must go
through ``operators._util.double_array_lit``, which ships the whole
vector in one call. The per-element form stays allowed where the length is fixed by
the code: iteration over an UPPER_CASE module constant or a ``range(…)``.
"""

from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "ndl_core_data_pipeline_spark")

_CONST = re.compile(r"^[A-Z][A-Z0-9_]*$")


def _is_f_call(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def _module_names(tree: ast.Module) -> set[str]:
    names = set()
    for stmt in tree.body:
        if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
        elif isinstance(stmt, ast.ImportFrom):
            names |= {a.asname or a.name for a in stmt.names}
    return names


def _fixed_length(it: ast.AST, module_names: set[str]) -> bool:
    if isinstance(it, ast.Name):
        return bool(_CONST.match(it.id)) and it.id in module_names
    return (
        isinstance(it, ast.Call)
        and isinstance(it.func, ast.Name)
        and it.func.id == "range"
    )


def per_element_sites(source: str) -> list[tuple[int, str, bool]]:
    """Every ``F.array(*[F.lit(…) for … in X])`` in ``source`` as
    (line, X, allowed)."""
    tree = ast.parse(source)
    module_names = _module_names(tree)
    sites = []
    for node in ast.walk(tree):
        if not _is_f_call(node, "array"):
            continue
        for arg in node.args:
            comp = arg.value if isinstance(arg, ast.Starred) else None
            if not (
                isinstance(comp, (ast.ListComp, ast.GeneratorExp))
                and _is_f_call(comp.elt, "lit")
            ):
                continue
            it = comp.generators[0].iter
            sites.append((node.lineno, ast.unparse(it), _fixed_length(it, module_names)))
    return sorted(sites)


def test_no_per_element_runtime_array_literals():
    allowed, bad = [], []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            source = fh.read()
        rel = os.path.relpath(path, PKG)
        for line, it, ok in per_element_sites(source):
            (allowed if ok else bad).append(f"{rel}:{line} over {it}")
    assert not bad, (
        "array literal built one py4j call per element over a runtime "
        "sequence — use operators._util.double_array_lit:\n  " + "\n  ".join(bad)
    )
    # the walk still sees the fixed-length sites it allows
    assert any(s.startswith("operators/files.py:") for s in allowed), allowed
    assert any(s.startswith("operators/joins.py:") for s in allowed), allowed


def test_lint_flags_runtime_vectors():
    src = (
        "from pyspark.sql import functions as F\n"
        "SALTS = (1, 2)\n"
        "def f(query_vec, planes, j):\n"
        "    a = F.array(*[F.lit(float(v)) for v in query_vec])\n"
        "    b = F.array(*[F.lit(v) for v in planes[j]])\n"
        "    c = F.array(*(F.lit(v) for v in query_vec))\n"
        "    d = F.array(*[F.lit(s) for s in SALTS])\n"
        "    e = F.array(*[F.lit(s) for s in range(4)])\n"
        "    g = F.array(*[F.lit(s) for s in LOCAL_UNDEFINED])\n"
    )
    assert [(line, ok) for line, _, ok in per_element_sites(src)] == [
        (4, False), (5, False), (6, False), (7, True), (8, True), (9, False),
    ]
