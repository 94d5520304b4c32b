"""The refine pass's Python kernels against their per-row references, and
pins on the schemas and executed plans of `pipeline.process` and
`rag.build_index`: one Python hand-off per stage."""

from __future__ import annotations

import re

import numpy as np
import pytest

from pyspark.sql import functions as F

from ndl_core_data_pipeline_spark import classify, pipeline, rag
from ndl_core_data_pipeline_spark.functions.udfs import (
    chunk_text,
    count_tokens,
    detect_language,
    extract_html_text,
)
from ndl_core_data_pipeline_spark.plans.audit import explain_formatted
from ndl_core_data_pipeline_spark.sources.pdfs import scan_pdfs
from tests.test_pdf import _mini_pdf

HOSTILE = [
    "",
    None,
    "Ünïcödé café Straße naïve İstanbul Kelvin ﬁne",
    "UPPER Case MiXed WORDS",
    "a b c 1 2 3 x y z",
    "tok " * 25_000,  # 100k chars
    "repeat repeat repeat repeat",
    "<p>markup <b>kept</b> as text</p>",
]


def _reference(texts):
    return (
        np.stack([classify.featurize(t) for t in texts])
        if texts
        else np.zeros((0, classify.DIM))
    )


@pytest.mark.parametrize("texts", [HOSTILE, HOSTILE[2:3], HOSTILE[1:2], []])
def test_embed_texts_bit_identical_to_featurize(texts):
    got = classify.embed_texts(texts)
    assert got.shape == (len(texts), classify.DIM)
    assert got.tobytes() == _reference(texts).tobytes()


def test_theme_matrix_is_featurize_per_theme():
    _, mat = classify.theme_matrix()
    assert mat.tobytes() == _reference(list(classify.EU_THEMES.values())).tobytes()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(f"d{i}", t) for i, t in enumerate(HOSTILE)]
    rows += [("long", "\n\n".join(f"para {i} " + "word " * 120 for i in range(12)))]
    return spark.createDataFrame(rows, "identifier STRING, text STRING")


def test_build_index_matches_chunker_and_featurizer(docs):
    texts = dict(docs.collect())
    want = {
        (d, i): c for d, t in texts.items() for i, c in enumerate(chunk_text(t))
    }
    index = rag.build_index(docs).collect()
    assert {(r.origin_identifier, r.chunk_index): r.chunk for r in index} == want
    for r in index:
        ref = classify.featurize(r.chunk).astype(np.float32)
        assert np.asarray(r.embedding, dtype=np.float32).tobytes() == ref.tobytes()
    chunks = rag.build_chunks(docs).collect()
    assert sorted(tuple(r) for r in chunks) == sorted(
        (r.origin_identifier, r.chunk_index, r.chunk) for r in index
    )


def test_embed_chunks_passes_columns_through(spark):
    chunks = spark.createDataFrame(
        [(7, "alpha beta"), (8, "")], "label BIGINT, chunk STRING"
    )
    out = rag.embed_chunks(chunks)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("label", "bigint"), ("chunk", "string"), ("embedding", "array<float>"),
    ]
    for r in out.collect():
        ref = classify.featurize(r.chunk).astype(np.float32)
        assert np.asarray(r.embedding, dtype=np.float32).tobytes() == ref.tobytes()


def test_canonical_text_matches_scalar_functions(spark):
    long_de = "der die und das " * 60
    rows = [
        ("a", "<p>Hello <a href=\"u\">there</a></p><script>x</script>", None),
        ("b", long_de, "fr"),
        ("c", "<b>" + long_de + "</b>", None),
        ("d", "a < b but no close", "es"),
        ("e", None, None),
    ]
    raw = spark.createDataFrame(rows, "identifier STRING, text STRING, language STRING")
    got = {r.identifier: r for r in pipeline.canonicalize(raw).collect()}
    for ident, text, lang in rows:
        text = text or ""
        plain = extract_html_text(text) if "<" in text and ">" in text else text
        r = got[ident]
        assert (r.text, r.language, r.token_count) == (
            plain, detect_language(plain, lang), count_tokens(plain)
        )
        assert r.word_count == len(plain.split())


# Spark schemas (name, type, nullable) of the refine outputs; `text` and
# `word_count` stay non-nullable, every build_index column but chunk_id
# is nullable.
PROCESS_SCHEMA = [
    ("identifier", "string", False),
    ("title", "string", True),
    ("description", "string", True),
    ("source", "string", True),
    ("date", "timestamp", True),
    ("collection_time", "timestamp", True),
    ("open_type", "string", False),
    ("license", "string", False),
    ("tags", "array<string>", True),
    ("language", "string", True),
    ("format", "string", False),
    ("text", "string", False),
    ("word_count", "int", False),
    ("token_count", "int", True),
    ("data_file", "string", True),
    ("extra_metadata", "string", False),
]
INDEX_SCHEMA = [
    ("origin_identifier", "string", True),
    ("chunk_index", "int", True),
    ("chunk", "string", True),
    ("embedding", "array<float>", True),
    ("chunk_id", "bigint", False),
]


def _fields(df):
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]


def _final_plan_tree(df) -> list[tuple[int, str]]:
    """(indent, node name) of each operator line of the executed plan
    (AQE's final plan when the plan is adaptive)."""
    df.collect()
    tree = explain_formatted(df).split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    out = []
    for line in tree.splitlines():
        m = re.match(r"^([ :|+\-]*)\*? ?([A-Za-z][A-Za-z ]*?) \(\d+\)", line)
        if m:
            out.append((len(m.group(1)), m.group(2)))
    return out


def _ancestor_paths(tree) -> list[list[str]]:
    """Node names from each leaf up to the root."""
    parents, paths = [], []
    for i, (indent, _) in enumerate(tree):
        parents.append(next((j for j in range(i - 1, -1, -1) if tree[j][0] < indent), -1))
    has_child = set(parents)
    for i in range(len(tree)):
        if i in has_child:
            continue
        path, j = [], i
        while j >= 0:
            path.append(tree[j][1])
            j = parents[j]
        paths.append(path)
    return paths


def test_process_schema_and_python_nodes(spark, tmp_path):
    (tmp_path / "a.pdf").write_bytes(_mini_pdf([b"hello pdf world"]))
    records = spark.createDataFrame(
        [("r1", "<p>x y</p>", "text"), ("r2", "plain words here", "text")],
        "identifier STRING, text STRING, format STRING",
    )
    pdfs = scan_pdfs(spark, str(tmp_path)).select(
        F.lit("p1").alias("identifier"), "text", F.lit("pdf").alias("format")
    )
    out = pipeline.process(records.unionByName(pdfs, allowMissingColumns=True))
    assert _fields(out) == PROCESS_SCHEMA
    tree = _final_plan_tree(out)
    names = [n for _, n in tree]
    assert names.count("MapInPandas") == 1  # the PDF scan
    for path in _ancestor_paths(tree):
        cut = path.index("Exchange")  # the dedup shuffle
        below, above = path[:cut], path[cut:]
        assert below.count("ArrowEvalPython") == 1, path  # canonicalize
        assert above.count("ArrowEvalPython") == 1, path  # anonymize


def test_build_index_schema_and_one_arrow_kernel(docs):
    index = rag.build_index(docs)
    assert _fields(index) == INDEX_SCHEMA
    names = [n for _, n in _final_plan_tree(index)]
    assert names.count("MapInArrow") == 1
    assert not {"ArrowEvalPython", "Generate", "MapInPandas"} & set(names)
