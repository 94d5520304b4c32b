"""PDF corpus scan (SURVEY §2.1 S5, the at-scale shape): a binaryFile
listing of .pdf files fanned out one-task-per-file through mapInPandas,
each task running the tiered text extractor (PyMuPDF when importable,
the pure-Python ISO-32000 parser otherwise) from bytes.

Reference analog: one converter invocation per document
(resources/convertors/pdf_extractor.py:56-101). PDFs are individually
small and unsplittable; at 100 TB the parallelism is across MILLIONS of
files, which binaryFile distributes by file. Extraction is pure Python
per document, so Arrow batching moves the bytes once and the per-file
cost is the parser itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .listing import binary_files, map_files

# text plus per-file outcome; a corrupt document yields an error row, not
# a failed scan (same fault-isolation contract as spreadsheet.scan_workbooks)
PDF_TEXT_SCHEMA = "path string, n_bytes bigint, n_chars bigint, text string, error string"


def _pdf_rows(path: str, data: bytes, err: str | None) -> list[tuple]:
    """map_files body: one document's (path, n_bytes, n_chars, text,
    error) row."""
    from ..functions.udfs import extract_pdf_text

    text = "" if err else extract_pdf_text(data)
    return [(path, len(data), len(text), text, err)]


def scan_pdfs(spark: SparkSession, path: str) -> DataFrame:
    """Distributed multi-PDF text extraction: (path, n_bytes, n_chars,
    text, error) per document."""
    return map_files(binary_files(spark, path, ("pdf",)), _pdf_rows, PDF_TEXT_SCHEMA)
