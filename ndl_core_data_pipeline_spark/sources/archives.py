"""Archive ingestion: CSV/TSV members inside zip files (engine surface —
open-data portals routinely publish a zip of CSVs per release).

Same distributed shape as the workbook scan (sources/spreadsheet.py):
binaryFile lists the archives (pathGlobFilter prunes at the LISTING),
mapInPandas fans out one task per archive, and each task unzips from
bytes with the stdlib — archives are unsplittable, so at 100 TB the
parallelism is across MANY archives, which binaryFile distributes by
file. Member rows come out as an all-string cell grid (archive, member,
row_idx, cells) exactly like the workbook grid, feeding the same
downstream typing; unreadable archives/members emit sentinel rows the
quarantine splitter routes to the errors side-output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .listing import binary_files, map_files

ARCHIVE_CELLS_SCHEMA = (
    "archive string, member string, row_idx bigint, cells array<string>"
)

# member-name sentinel for unreadable archives / members
ERROR_MEMBER = "__error__"


def _rows_from_zip(name: str, data: bytes):
    """Yield (member, row_idx, cells) for every CSV/TSV member; one
    sentinel row per unreadable archive or member."""
    import csv
    import io
    import zipfile

    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except Exception as exc:  # noqa: BLE001 — any corrupt archive
        yield ERROR_MEMBER, -1, [f"{type(exc).__name__}: {exc}"]
        return
    with zf:
        for info in zf.infolist():
            member = info.filename
            low = member.lower()
            if info.is_dir() or not low.endswith((".csv", ".tsv")):
                continue
            delim = "\t" if low.endswith(".tsv") else ","
            try:
                with zf.open(info) as fh:
                    text = io.TextIOWrapper(
                        fh, encoding="utf-8", errors="replace", newline=""
                    )
                    for i, row in enumerate(csv.reader(text, delimiter=delim)):
                        yield member, i, ["" if c is None else c for c in row]
            except Exception as exc:  # noqa: BLE001 — truncated member etc.
                yield member, -1, [f"{type(exc).__name__}: {exc}"]


def _archive_rows(path: str, data: bytes, err: str | None) -> list[tuple]:
    """map_files body: one archive's (archive, member, row_idx, cells)
    rows; _rows_from_zip already isolates unreadable archives/members."""
    if err:
        return [(path, ERROR_MEMBER, -1, [err])]
    return [(path, *row) for row in _rows_from_zip(path, data)]


def scan_zip_tables(spark: SparkSession, path: str) -> DataFrame:
    """Distributed zip-of-CSVs scan → (archive, member, row_idx, cells)."""
    files = binary_files(spark, path, ("zip",))
    return map_files(files, _archive_rows, ARCHIVE_CELLS_SCHEMA)


def scan_zip_tables_quarantined(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """scan_zip_tables split through quality.quarantine, like the
    workbook scan: sentinel rows become `_errors` rows."""
    from ..quality import quarantine

    cells = scan_zip_tables(spark, path)
    return quarantine(
        cells,
        {
            "archive_readable": F.col("member") != ERROR_MEMBER,
            "member_readable": F.col("row_idx") >= 0,
        },
    )
