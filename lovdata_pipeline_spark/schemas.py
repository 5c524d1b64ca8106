"""Declared schemas for every table the engine touches.

The reference validates row shapes with Pydantic models at construction
time (reference: lovdata_pipeline/domain/models.py:60-148); the Spark-native
equivalent is explicit ``StructType`` schemas — never inference — so that
reads are PERMISSIVE-with-contract and writes are stable across rounds.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- source corpus -------------------------------------------------------
# One row per legal XML document (reference: one .xml file per law,
# docs/GUIDE.md:227-244). `xml` holds the full document text.
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("dataset_name", T.StringType(), True),
        T.StructField("relative_path", T.StringType(), True),
        T.StructField("xml", T.StringType(), True),
        T.StructField("source_hash", T.StringType(), True),
        T.StructField("status", T.StringType(), True),  # added|modified|removed
    ]
)

# --- processing state ----------------------------------------------------
# Flat analog of pipeline_state.json's two maps (reference:
# domain/models.py:237-256, state.py:43-75). `status` is
# 'processed' | 'failed'; `error` set only for failures.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("hash", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("at", T.StringType(), False),  # ISO-8601, as in reference
    ]
)

# --- chunk rows before enrichment ----------------------------------------
# Output of the chunker UDF; superset of the reference's Chunk +
# ChunkMetadata tiers (models.py:60-148). `chunk_pos` is the stable
# per-document ordinal used for positional id assignment
# (file_processing_service.py:101-105).
CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("document_id", T.StringType(), False),
        T.StructField("dataset_name", T.StringType(), True),
        T.StructField("chunk_pos", T.IntegerType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("token_count", T.IntegerType(), True),
        T.StructField("section_heading", T.StringType(), True),
        T.StructField("paragraph_ref", T.StringType(), True),
        T.StructField("paragraph_title", T.StringType(), True),
        T.StructField("document_title", T.StringType(), True),
        T.StructField("chapter_path", T.ArrayType(T.StringType()), True),
        T.StructField("absolute_address", T.StringType(), True),
        T.StructField("split_reason", T.StringType(), True),  # none|paragraph|sentence|token
        T.StructField("parent_chunk_id", T.StringType(), True),
        T.StructField("source_hash", T.StringType(), True),
        T.StructField("cross_refs", T.ArrayType(T.StringType()), True),
        T.StructField("merged", T.BooleanType(), True),
        T.StructField("merged_with", T.ArrayType(T.StringType()), True),
        T.StructField("error", T.StringType(), True),  # poison-document routing
    ]
)

# --- enriched (embedded) chunk rows --------------------------------------
# EnrichedChunk equivalent (models.py:91-132). Unlike the reference we
# deliberately KEEP cross_refs through the embedding stage (the reference
# silently drops them, embedding_service.py:62-77 — documented deviation).
ENRICHED_CHUNKS_SCHEMA = T.StructType(
    list(CHUNKS_SCHEMA.fields)
    + [
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("embedding_model", T.StringType(), True),
        T.StructField("embedded_at", T.StringType(), True),
    ]
)

# --- sync manifest --------------------------------------------------------
# Flattened form of lovlig's nested state.json (reference: lovlig.py:78-136).
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("dataset_name", T.StringType(), True),
        T.StructField("relative_path", T.StringType(), True),
        T.StructField("source_hash", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
    ]
)
