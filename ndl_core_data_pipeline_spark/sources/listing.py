"""binaryFile listing shared by the file scanners (PDF, DOCX, markdown,
workbook and zip): one extension tuple builds both filters.

pathGlobFilter prunes at the LISTING, so other files' bytes are never
read (binaryFile pushes down only length/modtime predicates — a post-hoc
rlike on path alone would still load them). The glob sees only the file
name; the (?i) rlike post-filter anchors the extension on the full path.
Both accept any letter case, and both come from the same `exts`, so they
cannot disagree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def binary_files(spark: SparkSession, path: str, exts: tuple[str, ...]) -> DataFrame:
    """(path, content) of every file under `path` whose extension is one
    of `exts` (lower-case, without the dot), in any letter case."""
    globs = ["".join(f"[{c}{c.upper()}]" for c in e) for e in exts]
    glob = "*." + (globs[0] if len(globs) == 1 else "{" + ",".join(globs) + "}")
    rx = r"(?i)\.(" + "|".join(exts) + ")$"
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .where(F.col("path").rlike(rx))
        .select("path", "content")
    )
