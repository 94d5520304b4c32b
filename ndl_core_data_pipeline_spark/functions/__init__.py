from .udfs import (
    anonymize_text_udf,
    canonical_text_udf,
    chunk_text,
    extract_html_text,
    iso8601,
)

__all__ = [
    "anonymize_text_udf",
    "canonical_text_udf",
    "chunk_text",
    "extract_html_text",
    "iso8601",
]
