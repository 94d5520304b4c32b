"""binaryFile listing and per-file fan-out shared by the file scanners
(PDF, DOCX, markdown, workbook, zip and conversation XML).

`binary_files` lists the files: one extension tuple builds both filters.

pathGlobFilter prunes at the LISTING, so other files' bytes are never
read (binaryFile pushes down only length/modtime predicates — a post-hoc
rlike on path alone would still load them). The glob sees only the file
name; the (?i) rlike post-filter anchors the extension on the full path.
Both accept any letter case, and both come from the same `exts`, so they
cannot disagree.

`map_files` parses them: one mapInPandas task per Arrow batch of files,
one parse call per file, and per-file fault isolation — a corrupt file
becomes the scanner's error rows instead of a failed million-file scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


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


def map_files(files: DataFrame, parse, schema: str) -> DataFrame:
    """Rows of `schema` from (path, content BINARY) file rows in one
    mapInPandas. `parse(path, data, error)` returns one file's rows as a
    list of tuples in schema order. It is called with error=None; if that
    raises, it is called once more with the exception as "Type: message"
    and returns the file's error rows."""
    names = DataType.fromDDL(schema).names

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                try:
                    rows += parse(path, data, None)
                except Exception as exc:  # noqa: BLE001 — per-file isolation
                    rows += parse(path, data, f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame.from_records(rows, columns=names)

    return files.mapInPandas(run, schema)
