"""Markdown ingestion with front-matter extraction (engine surface — the
de-facto format of docs sites, wikis, and code-adjacent corpora).

Two pure-Python pieces, both UDF-free on the Spark side until the
per-file fan-out:

- `split_front_matter`: the leading `---` fence block as a flat
  key→value dict (a documented SUBSET of YAML — scalar `key: value`
  lines only, which covers the title/date/tags/layout front matter that
  dominates real corpora; nested YAML stays in the raw block untouched).
- `markdown_to_text`: CommonMark-ish markup stripped to plain text with
  the same posture as the HTML extractor (`- ` list markers kept,
  links become `text (url)`, code-fence content kept verbatim, heading
  markers dropped).

`scan_markdown` is the standard distributed shape: binaryFile listing →
mapInPandas, one task per file, error rows for undecodable files.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .listing import binary_files

MD_TEXT_SCHEMA = (
    "path string, meta map<string,string>, n_chars bigint, "
    "text string, error string"
)

_FM_LINE = re.compile(r"^([A-Za-z0-9_.-]+)\s*:\s*(.*)$")


def split_front_matter(md: str) -> tuple[dict[str, str], str]:
    """(front-matter dict, body). Front matter = a leading `---` fence
    closed by `---`/`...`; scalar `key: value` lines are parsed (quotes
    stripped), anything else in the block is ignored. No fence → empty
    dict and the input unchanged."""
    if not md.startswith("---"):
        return {}, md
    lines = md.splitlines(keepends=True)
    if lines[0].strip() != "---":
        return {}, md
    meta: dict[str, str] = {}
    for i, line in enumerate(lines[1:], start=1):
        s = line.strip()
        if s in ("---", "..."):
            return meta, "".join(lines[i + 1 :])
        m = _FM_LINE.match(s)
        if m:
            v = m.group(2).strip()
            if len(v) >= 2 and v[0] == v[-1] and v[0] in "'\"":
                v = v[1:-1]
            meta[m.group(1)] = v
    return {}, md  # unclosed fence: treat as body, not front matter


_MD_RULES: list[tuple[re.Pattern, str]] = [
    (re.compile(r"!\[([^\]]*)\]\(([^)]*)\)"), r"\1"),  # images: alt text
    (re.compile(r"\[([^\]]+)\]\(([^)]+)\)"), r"\1 (\2)"),  # links, HTML-style
    (re.compile(r"^#{1,6}\s*", re.M), ""),  # heading markers
    (re.compile(r"^\s*[-*+]\s+", re.M), "- "),  # bullets → the `- ` marker
    (re.compile(r"^\s*\d+\.\s+", re.M), "- "),  # ordered lists too
    (re.compile(r"```[^\n]*\n?"), ""),  # fence lines (content kept)
    (re.compile(r"`([^`]*)`"), r"\1"),  # inline code
    (re.compile(r"\*\*([^*]+)\*\*"), r"\1"),  # bold
    (re.compile(r"\*([^*]+)\*"), r"\1"),  # italics
    (re.compile(r"__([^_]+)__"), r"\1"),
    (re.compile(r"^\s*>\s?", re.M), ""),  # blockquote markers
    (re.compile(r"^\s*([-*_]\s*){3,}$", re.M), ""),  # thematic breaks
]


def markdown_to_text(body: str) -> str:
    out = body
    for pat, repl in _MD_RULES:
        out = pat.sub(repl, out)
    # collapse 3+ blank lines to paragraph breaks, trim edges
    out = re.sub(r"\n{3,}", "\n\n", out)
    return out.strip()


def scan_markdown(spark: SparkSession, path: str) -> DataFrame:
    """Distributed markdown scan: (path, meta, n_chars, text, error)."""
    import pandas as pd

    files = binary_files(spark, path, ("md", "markdown"))

    def run(batches):
        for pdf in batches:
            out = {"path": [], "meta": [], "n_chars": [], "text": [], "error": []}
            for fpath, content in zip(pdf["path"], pdf["content"]):
                out["path"].append(fpath)
                try:
                    md = bytes(content).decode("utf-8", errors="strict")
                    meta, body = split_front_matter(md)
                    text = markdown_to_text(body)
                    err = None
                except Exception as exc:  # noqa: BLE001 — per-file isolation
                    meta, text, err = {}, "", f"{type(exc).__name__}: {exc}"
                out["meta"].append(meta)
                out["n_chars"].append(len(text))
                out["text"].append(text)
                out["error"].append(err)
            yield pd.DataFrame(out)

    return files.mapInPandas(run, MD_TEXT_SCHEMA)
