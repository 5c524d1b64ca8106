"""Distributed chunking: documents DataFrame → chunks DataFrame.

One ``mapInPandas`` pass; Spark parallelism is *across* documents while
the order-dependent chunking semantics stay *within* one document —
exactly the shape the reference executes sequentially
(reference: orchestration/pipeline_orchestrator.py:294-335). Positional
ids are computed inside the per-document call, so they are deterministic
under any partitioning (SURVEY.md §7 hard part #2).

Poison documents (malformed XML) must not kill the job (reference:
tests/end2end/incremental_update_test.py:500-513): failures surface as
rows with ``error`` set, which the caller routes to the failed-docs
state table instead of raising.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from lovdata_pipeline_spark.config import ChunkParams
from lovdata_pipeline_spark.schemas import CHUNKS_SCHEMA


def _error_row(doc_id: str, dataset: str | None, source_hash: str | None, msg: str) -> dict:
    return {
        "chunk_id": f"{doc_id}_error",
        "document_id": doc_id,
        "dataset_name": dataset,
        "chunk_pos": -1,
        "content": None,
        "token_count": None,
        "section_heading": None,
        "paragraph_ref": None,
        "paragraph_title": None,
        "document_title": None,
        "chapter_path": None,
        "absolute_address": None,
        "split_reason": None,
        "parent_chunk_id": None,
        "source_hash": source_hash,
        "cross_refs": None,
        "merged": None,
        "merged_with": None,
        "error": msg[:2000],
    }


def chunk_batch(pdf: pd.DataFrame, params: ChunkParams) -> pd.DataFrame:
    """Chunk one Arrow batch of document rows into CHUNKS_SCHEMA rows: the
    per-batch loop of ``chunk_documents_df`` and of the pipeline's fused
    chunk-and-embed stage. A document whose chunker raises becomes one
    error row; a document yielding zero chunks adds no row."""
    # Import inside the task so executors resolve the package fresh.
    from lovdata_pipeline_spark.chunking.chunker import chunk_document

    rows: list[dict] = []
    for rec in pdf.itertuples(index=False):
        doc_id = str(rec.doc_id)
        dataset = getattr(rec, "dataset_name", None)
        source_hash = getattr(rec, "source_hash", None)
        try:
            rows.extend(chunk_document(rec.xml, doc_id, dataset, source_hash, params))
        except Exception as exc:  # poison doc → side output
            rows.append(_error_row(doc_id, dataset, source_hash, str(exc)))
    return pd.DataFrame(rows, columns=[f.name for f in CHUNKS_SCHEMA.fields])


def chunk_documents_df(documents: DataFrame, params: ChunkParams | None = None) -> DataFrame:
    """Apply the chunker to every document row.

    Expects columns ``doc_id, dataset_name, xml, source_hash`` (extra
    columns are ignored). Returns CHUNKS_SCHEMA rows; filter
    ``error IS NULL`` for good chunks, ``error IS NOT NULL`` for the
    failed-docs side output.
    """
    params = params or ChunkParams()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield chunk_batch(pdf, params)

    needed = [c for c in ("doc_id", "dataset_name", "xml", "source_hash") if c in documents.columns]
    return documents.select(*needed).mapInPandas(run, schema=CHUNKS_SCHEMA)
