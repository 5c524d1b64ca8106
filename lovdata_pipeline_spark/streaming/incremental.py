"""Streaming form of the incremental pipeline.

The reference's incremental contract — process only new/changed files,
exactly once, resumable (reference: pipeline_orchestrator.py:214-278) —
is precisely Spark's file source + checkpoint + ``Trigger.AvailableNow``:
the checkpoint directory plays the role of pipeline_state.json, each
micro-batch is the per-run changed-set, and ``foreachBatch`` gives the
batch-side upsert the same code path as the batch pipeline.

Note the semantic difference kept deliberate: the file source tracks
*new files*; content-hash re-chunking of modified-in-place files stays
the batch anti-join's job (operators/incremental.py). In practice
corpora at scale are append-only (new snapshot dirs), which this covers
exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from lovdata_pipeline_spark.config import ChunkParams
from lovdata_pipeline_spark.chunking import chunk_documents_df
from lovdata_pipeline_spark.sources.xml_corpus import project_corpus_columns


def stream_xml_corpus(spark: SparkSession, root: str, pattern: str = "*.xml") -> DataFrame:
    """Streaming scan of an XML corpus tree — same column derivation as
    the batch reader (shared projection), so batch and streaming runs
    over one tree agree on doc_id/dataset_name."""
    import os

    abs_root = os.path.abspath(root)
    raw = (
        spark.readStream.format("binaryFile")
        # streaming sources need the schema declared up front
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", pattern)
        .option("recursiveFileLookup", "true")
        .load(abs_root)
    )
    return project_corpus_columns(raw, abs_root)


def run_streaming_chunk_pipeline(
    spark: SparkSession,
    corpus_root: str,
    checkpoint_dir: str,
    sink,
    params: ChunkParams | None = None,
):
    """Chunk every newly-arrived document and hand each micro-batch to
    ``sink(batch_df, batch_id)``.

    Batches carry the CHUNK schema (no embedding columns) and include
    poison-document ``error`` rows, so ``ChunkStore.upsert_chunks`` is
    NOT directly a valid sink (it unions against the stored ENRICHED
    schema and would fail on the missing embedding columns — r10
    review); a store-landing sink must embed (or null-pad) and filter
    error rows first — the rows the batch pipeline's fused stage
    (``pipeline.chunk_and_embed_df``) produces in one pass:

        def sink(batch_df, _bid):
            good = batch_df.filter(F.col("error").isNull())
            store.upsert_chunks(embed_chunks_df(good, dims=...))

    Such a sink passes no ``buckets``, so the store probes for the
    buckets it rewrites.

    Trigger.AvailableNow: drain everything currently available, then
    stop — the streaming analog of one incremental batch run, with
    exactly-once file tracking in the checkpoint.
    """
    docs = stream_xml_corpus(spark, corpus_root)
    chunks = chunk_documents_df(docs, params or ChunkParams())

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sink(batch_df, batch_id)

    return (
        chunks.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
