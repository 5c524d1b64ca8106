"""Order-insensitive digests of the chunk store, and the independent
single-process pass that predicts them.

The prediction runs ``chunk_document`` and ``mock_hash_provider`` in
plain Python, one document after another, with no Spark involved; the
store side reads the bucket files with pyarrow. Equal digests mean the
store holds exactly the predicted chunk rows: same ids, text, metadata
and float32 embeddings. ``embedded_at`` (a wall-clock stamp) and the
``bucket`` partition column are left out.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench.corpus import Corpus, sha256_hex

_COLUMNS = (
    "chunk_id", "document_id", "dataset_name", "chunk_pos", "content",
    "token_count", "section_heading", "paragraph_ref", "paragraph_title",
    "document_title", "chapter_path", "absolute_address", "split_reason",
    "parent_chunk_id", "source_hash", "cross_refs", "merged", "merged_with",
    "error", "embedding_model",
)
DIMS = 64
MODEL = "mock-hash-embedder"


def _row_digest(row: dict, embedding) -> str:
    vals = [row.get(c) for c in _COLUMNS]
    vals = [list(v) if isinstance(v, (list, tuple, np.ndarray)) else v for v in vals]
    vec = np.asarray(embedding, dtype=np.float32).tobytes().hex()
    payload = json.dumps(vals, ensure_ascii=False, default=str) + vec
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def _combine(row_digests: list[str]) -> str:
    return hashlib.sha256("".join(sorted(row_digests)).encode()).hexdigest()


def expected_chunks(corpus: Corpus) -> tuple[str, dict[str, int]]:
    """(store digest, chunk count per processed document) predicted for
    a store that holds every non-poison document of ``corpus``."""
    from lovdata_pipeline_spark.chunking import chunk_document
    from lovdata_pipeline_spark.config import ChunkParams
    from lovdata_pipeline_spark.embedding import mock_hash_provider

    embed = mock_hash_provider(DIMS)
    params = ChunkParams()
    digests: list[str] = []
    per_doc: dict[str, int] = {}
    for doc_id, (ds, xml) in sorted(corpus.docs.items()):
        if doc_id in corpus.malformed:
            continue
        rows = chunk_document(xml, doc_id, ds, sha256_hex(xml), params)
        per_doc[doc_id] = len(rows)
        vectors = embed([r["content"] or "" for r in rows]) if rows else []
        for row, vec in zip(rows, vectors):
            row["embedding_model"] = MODEL
            digests.append(_row_digest(row, vec))
    return _combine(digests), per_doc


def _data_files(store_root: str) -> list[str]:
    return sorted(glob.glob(os.path.join(store_root, "bucket=*", "*.parquet")))


def store_digest(store_root: str) -> str:
    """Digest of the chunk rows in a store directory."""
    digests: list[str] = []
    for path in _data_files(store_root):
        for row in pq.read_table(path).to_pylist():
            digests.append(_row_digest(row, row["embedding"]))
    return _combine(digests)


def bucket_files(store_root: str) -> dict[str, tuple[int, int]]:
    """Path relative to the store -> (bytes, rows from the parquet footer)
    for every data file."""
    return {
        os.path.relpath(p, store_root): (os.path.getsize(p), pq.ParquetFile(p).metadata.num_rows)
        for p in _data_files(store_root)
    }


def document_rows(store_root: str, doc_ids: set[str]) -> int:
    """Rows a store holds for the given documents."""
    return sum(
        sum(1 for d in pq.read_table(p, columns=["document_id"]).column(0).to_pylist()
            if d in doc_ids)
        for p in _data_files(store_root)
    )
