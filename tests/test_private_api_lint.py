"""Private-Spark-API linter.

The engine should run on the public PySpark API only: the JVM handles
behind ``._jdf``, ``._jvm``, ``._jsc`` and ``._jsparkSession`` are absent
under Spark Connect and change without notice between releases. This test
AST-walks the engine package for those attributes and requires every use
to carry a reviewed allowlist entry. A new site fails the lint until it is
reviewed; an entry whose site is gone fails as stale, so the allowlist only
ever shrinks as the sites are replaced.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "ndl_core_data_pipeline_spark")

PRIVATE_ATTRS = {"_jdf", "_jvm", "_jsc", "_jsparkSession"}

# (file relative to the package, enclosing function, attribute) -> reason
ALLOWLIST: dict[tuple[str, str, str], str] = {
    ("plans/audit.py", "explain_formatted", "_jvm"):
        "builds ExplainMode('formatted'); the public df.explain() prints "
        "to stdout instead of returning the string",
    ("plans/audit.py", "explain_formatted", "_jdf"):
        "queryExecution().explainString(mode) returns the formatted plan "
        "as a string",
    ("operators/_util.py", "_plan_shape_key", "_jdf"):
        "the analyzed-plan string keys the split memo; no public API "
        "exposes the analyzed plan as a string",
    ("sinks.py", "_avro_available", "_jvm"):
        "DataSource.lookupDataSource probes whether the external avro "
        "module is registered before a write",
    ("sinks.py", "_avro_available", "_jsparkSession"):
        "the SQLConf the same provider lookup needs",
}


def private_sites(source: str) -> list[tuple[int, str, str]]:
    """Every private-attribute access in ``source`` as
    (line, enclosing function, attribute)."""
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
        (node.lineno, func_of(node), node.attr)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr in PRIVATE_ATTRS
    )


def test_no_unreviewed_private_spark_api():
    missing, used = [], set()
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PKG)
        with open(path) as fh:
            source = fh.read()
        for line, fn, attr in private_sites(source):
            entry = (rel, fn, attr)
            if entry in ALLOWLIST:
                used.add(entry)
            else:
                missing.append(f"{rel}:{line} {fn} .{attr}")
    assert not missing, (
        "private Spark API use without a reviewed allowlist entry — use "
        "the public API or add an entry with a reason:\n  " + "\n  ".join(missing)
    )
    stale = sorted(set(ALLOWLIST) - used)
    assert not stale, "allowlist entries matching no live site:\n  " + "\n  ".join(
        map(str, stale)
    )


def test_lint_flags_private_attributes():
    src = (
        "def f(df, spark):\n"
        "    a = df._jdf.queryExecution()\n"
        "    b = spark._jvm.java.lang.System\n"
        "    c = spark.sparkContext._jsc.sc()\n"
        "    d = spark._jsparkSession.sessionState()\n"
        "    e = df.sparkSession.conf\n"
        "x = spark._jvm\n"
    )
    assert private_sites(src) == [
        (2, "f", "_jdf"),
        (3, "f", "_jvm"),
        (4, "f", "_jsc"),
        (5, "f", "_jsparkSession"),
        (7, "<module>", "_jvm"),
    ]
