"""RAG index build (SURVEY §3.3 build half): documents → chunks (explicit
chunk_index) → embeddings → searchable index.

Reference chain: process_text_chunks.py:26-37 (filter format=='text' →
RecursiveCharacterTextSplitter → SentenceTransformer encode → chunk
parquet + FAISS flat index). Here:

- chunking and embedding: ONE Arrow kernel per batch of documents,
  run through operators._util.arrow_map (the package's one mapInArrow
  boundary, which also owns the output schema: origin_identifier keeps
  its input type). It runs the pure-Python recursive splitter
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
from .operators._util import arrow_map

CHUNK_FIELDS = "chunk_index INT, chunk STRING"
EMBEDDING_FIELD = "embedding ARRAY<FLOAT>"


def _embedding_array(chunks: list[str]) -> pa.Array:
    """list<float> embeddings of `chunks` from one flat float32 buffer."""
    vecs = np.asarray(embed_texts(chunks), dtype=np.float32)
    dim = vecs.shape[1] if vecs.ndim == 2 else 0
    offsets = np.arange(len(chunks) + 1, dtype=np.int32) * dim
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(vecs.reshape(-1)))


def _chunk_kernel(batch: pa.RecordBatch, embed: bool):
    """arrow_map body: (origin_identifier, text) documents → one row per
    chunk, chunks in document order, with an explicit chunk_index (plus
    the chunk's embedding when `embed`)."""
    per_doc = [chunk_text(t) for t in batch.column("text").to_pylist()]
    counts = np.fromiter(map(len, per_doc), np.int64, len(per_doc))
    doc_of = np.repeat(np.arange(len(per_doc)), counts)
    starts = np.cumsum(counts) - counts
    chunk_index = (np.arange(len(doc_of)) - starts[doc_of]).astype(np.int32)
    chunks = [c for doc in per_doc for c in doc]
    return doc_of, [chunk_index, chunks] + ([_embedding_array(chunks)] if embed else [])


def _documents(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(origin_identifier, text) of the documents with non-empty text."""
    return docs.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0)).select(
        F.col(id_col).alias("origin_identifier"), F.col(text_col).alias("text")
    )


def build_chunks(
    docs: DataFrame, id_col: str = "identifier", text_col: str = "text"
) -> DataFrame:
    """V1/W3: one row per chunk with explicit chunk_index."""
    return arrow_map(
        _documents(docs, id_col, text_col),
        partial(_chunk_kernel, embed=False),
        keep=("origin_identifier",),
        adds=CHUNK_FIELDS,
    )


def embed_chunks(chunks: DataFrame, text_col: str = "chunk") -> DataFrame:
    """V2: batch-encode chunk text into an embedding column (per-executor
    model init; Arrow batches). Every input column passes through with
    its input type."""
    return arrow_map(
        chunks,
        lambda b: (None, [_embedding_array(b.column(text_col).to_pylist())]),
        keep=chunks.columns,
        adds=EMBEDDING_FIELD,
    )


def build_index(docs: DataFrame, approximate: bool = False) -> DataFrame:
    """Full build: chunk + embed in one Arrow pass (→ LSH bucket when
    approximate). The result is the searchable table
    search.search()/ann_topk consume; chunk ids are (origin_identifier,
    chunk_index)."""
    embedded = arrow_map(
        _documents(docs, "identifier", "text"),
        partial(_chunk_kernel, embed=True),
        keep=("origin_identifier",),
        adds=f"{CHUNK_FIELDS}, {EMBEDDING_FIELD}",
    )
    embedded = embedded.withColumn(
        "chunk_id",
        F.xxhash64(F.col("origin_identifier"), F.col("chunk_index")),
    )
    if approximate:
        from .search import lsh_index

        embedded = lsh_index(embedded)
    return embedded
