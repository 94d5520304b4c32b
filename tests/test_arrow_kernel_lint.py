"""Arrow-kernel boundary linter.

Every Arrow-batched Python kernel in the engine goes through one helper,
``operators/_util.arrow_map``: it owns the output schema (pass-through
types read from the input, added fields declared once) and the
RecordBatch assembly, so no kernel hand-builds either. The file scanners
under ``sources/`` share ``sources/listing.map_files`` for their
per-file fan-out and fault isolation; ``sources/crawl.py`` fetches
offsets rather than parsing files and keeps its own mapInPandas. This
test AST-walks the package and fails on any other ``.mapInArrow`` use,
or any other ``.mapInPandas`` use under ``sources/``.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "ndl_core_data_pipeline_spark")


def call_sites(source: str, attr: str) -> list[tuple[int, str]]:
    """Every access of ``.<attr>`` in ``source`` as (line, enclosing
    function)."""
    tree = ast.parse(source)
    parents: dict[ast.AST, ast.AST] = {}
    for node in ast.walk(tree):
        for ch in ast.iter_child_nodes(node):
            parents[ch] = node

    def func_of(n: ast.AST) -> str:
        while n in parents:
            n = parents[n]
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                return n.name
        return "<module>"

    return sorted(
        (node.lineno, func_of(node))
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr == attr
    )


def _package_sites(attr: str) -> list[tuple[str, int, str]]:
    out = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PKG)
        with open(path) as fh:
            out += [(rel, line, fn) for line, fn in call_sites(fh.read(), attr)]
    return out


def test_map_in_arrow_only_inside_arrow_map():
    sites = _package_sites("mapInArrow")
    stray = [
        f"{rel}:{line} {fn}"
        for rel, line, fn in sites
        if (rel, fn) != ("operators/_util.py", "arrow_map")
    ]
    assert not stray, (
        "mapInArrow outside operators/_util.arrow_map — route the kernel "
        "through arrow_map:\n  " + "\n  ".join(stray)
    )
    assert len(sites) == 1, sites


def test_source_map_in_pandas_only_inside_map_files():
    stray = [
        f"{rel}:{line} {fn}"
        for rel, line, fn in _package_sites("mapInPandas")
        if rel.startswith("sources" + os.sep)
        and (rel, fn) != (os.path.join("sources", "listing.py"), "map_files")
        and rel != os.path.join("sources", "crawl.py")
    ]
    assert not stray, (
        "mapInPandas in a file scanner outside sources/listing.map_files — "
        "use map_files:\n  " + "\n  ".join(stray)
    )


def test_lint_flags_map_in_arrow_uses():
    src = (
        "def arrow_map(df, run, schema):\n"
        "    return df.mapInArrow(run, schema)\n"
        "def kernel(df):\n"
        "    return df.mapInArrow(f, 'x int')\n"
        "g = df.mapInArrow\n"
        "h = df.mapInPandas(f, 'x int')\n"
    )
    assert call_sites(src, "mapInArrow") == [
        (2, "arrow_map"),
        (4, "kernel"),
        (5, "<module>"),
    ]
    assert call_sites(src, "mapInPandas") == [(6, "<module>")]
