"""RAG index build (SURVEY §3.3 build half): documents → chunks (explicit
chunk_index) → embeddings → searchable index.

Reference chain: process_text_chunks.py:26-37 (filter format=='text' →
RecursiveCharacterTextSplitter → SentenceTransformer encode → chunk
parquet + FAISS flat index). Here:

- chunking and embedding: ONE mapInArrow kernel per Arrow batch of
  documents. It runs the pure-Python recursive splitter
  (functions.chunk_text), emits chunk_index as an explicit column (the
  reference relies on physical row order — SURVEY §1.3 flags that as
  non-portable to a distributed engine), and encodes the batch's chunks
  with classify.embed_texts (sentence-transformers when importable, the
  batched hashed featurizer otherwise). The embedding column is built
  from one flat float32 buffer, never from per-value Python floats;
- index: the chunk-embedding table itself (+ optional LSH bucket column
  via search.lsh_index) — brute-force cosine is the exact tier, bucket
  pruning the approximate tier. FAISS's role (K5) is filled by the
  engine's own distributed top-k, not a driver-side index.

build_chunks and embed_chunks expose the two halves on their own; they
run the same kernel code as build_index.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from .classify import embed_texts
from .functions.udfs import chunk_text
from .operators.vector import _ddl

CHUNK_SCHEMA_SUFFIX = "chunk_index INT, chunk STRING"
EMBEDDING_FIELD = "embedding ARRAY<FLOAT>"
_CHUNK_NAMES = ["origin_identifier", "chunk_index", "chunk", "embedding"]


def _chunk_rows(batch: pa.RecordBatch) -> tuple[pa.Array, pa.Array, list[str]]:
    """origin_identifier, chunk_index and chunk text for one batch of
    (origin_identifier, text) documents, chunks in document order."""
    per_doc = [chunk_text(t) for t in batch.column("text").to_pylist()]
    counts = np.fromiter(map(len, per_doc), np.int64, len(per_doc))
    doc_of = np.repeat(np.arange(len(per_doc)), counts)
    starts = np.cumsum(counts) - counts
    chunk_index = (np.arange(len(doc_of)) - starts[doc_of]).astype(np.int32)
    chunks = [c for doc in per_doc for c in doc]
    return batch.column("origin_identifier").take(doc_of), pa.array(chunk_index), chunks


def _embedding_array(chunks: list[str]) -> pa.Array:
    """list<float> embeddings of `chunks` from one flat float32 buffer."""
    vecs = np.asarray(embed_texts(chunks), dtype=np.float32)
    dim = vecs.shape[1] if vecs.ndim == 2 else 0
    offsets = np.arange(len(chunks) + 1, dtype=np.int32) * dim
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(vecs.reshape(-1)))


def _chunk_kernel(batches, embed: bool):
    """mapInArrow body: (origin_identifier, text) documents → one row per
    chunk, plus its embedding when `embed`."""
    for b in batches:
        ids, chunk_index, chunks = _chunk_rows(b)
        arrays = [ids, chunk_index, pa.array(chunks, pa.string())]
        if embed:
            arrays.append(_embedding_array(chunks))
        yield pa.RecordBatch.from_arrays(arrays, _CHUNK_NAMES[: len(arrays)])


def _documents(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(origin_identifier, text) of the documents with non-empty text."""
    return docs.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0)).select(
        F.col(id_col).alias("origin_identifier"), F.col(text_col).alias("text")
    )


def build_chunks(
    docs: DataFrame, id_col: str = "identifier", text_col: str = "text"
) -> DataFrame:
    """V1/W3: one row per chunk with explicit chunk_index."""
    src = _documents(docs, id_col, text_col)
    schema = ", ".join(_ddl(src, "origin_identifier") + [CHUNK_SCHEMA_SUFFIX])
    return src.mapInArrow(partial(_chunk_kernel, embed=False), schema)


def embed_chunks(chunks: DataFrame, text_col: str = "chunk") -> DataFrame:
    """V2: batch-encode chunk text into an embedding column (per-executor
    model init; Arrow batches). Every input column passes through with
    its input type."""
    names = chunks.columns

    def encode(batches):
        for b in batches:
            emb = _embedding_array(b.column(text_col).to_pylist())
            yield pa.RecordBatch.from_arrays(
                [*b.columns, emb], [*names, "embedding"]
            )

    schema = ", ".join(_ddl(chunks, *names) + [EMBEDDING_FIELD])
    return chunks.mapInArrow(encode, schema)


def build_index(docs: DataFrame, approximate: bool = False) -> DataFrame:
    """Full build: chunk + embed in one Arrow pass (→ LSH bucket when
    approximate). The result is the searchable table
    search.search()/ann_topk consume; chunk ids are (origin_identifier,
    chunk_index)."""
    src = _documents(docs, "identifier", "text")
    schema = ", ".join(
        _ddl(src, "origin_identifier") + [CHUNK_SCHEMA_SUFFIX, EMBEDDING_FIELD]
    )
    embedded = src.mapInArrow(partial(_chunk_kernel, embed=True), schema)
    embedded = embedded.withColumn(
        "chunk_id",
        F.xxhash64(F.col("origin_identifier"), F.col("chunk_index")),
    )
    if approximate:
        from .search import lsh_index

        embedded = lsh_index(embedded)
    return embedded
