"""The orchestrated incremental pipeline (op 35).

The reference's fixed 4-stage DAG — sync → identify → process
(chunk→embed→index) → cleanup (reference:
orchestration/pipeline_orchestrator.py:116-173) — commits state after
every document (state.py:43-102, pipeline_orchestrator.py:316-331).
Here a pass picks its input once, runs its per-document Python work in
ONE stage and commits once, the way a Structured Streaming trigger does
for one micro-batch. Identify is one broadcast join of the documents
frame itself (xml included) against the processed state on doc_id: it
keeps the changed rows and marks every changed or removed row ``stored``
when the state lists its doc_id. Those rows are cached once,
hash-partitioned by doc_id, so the corpus is scanned and hashed once and
AQE sizes the Python stage from the changed documents' bytes rather
than the corpus's file splits. The fused stage (``chunk_and_embed_df``)
is ONE ``mapInPandas`` over them that chunks each changed document and
embeds its good chunks; its output is cached, so every document is
chunked and embedded exactly once. Then come three Spark actions:

  decide   ONE aggregate over a cached per-document decision table —
           (doc_id, hash, chunk count, error, removed?, stored?) for
           every changed or removed document, from identify (ops 3-8)
           and the cached fused output. The driver gets the counts, the
           id lists of the failed, zero-chunk and removed documents and
           the touched buckets: the buckets of the documents that write
           chunks and of the documents the prior state lists (at most
           ``n_buckets`` values). The processed rows stay distributed,
           since on a first load or a `force` run they are the whole
           corpus.
  store    ONE rewrite of exactly those buckets, with no probe job:
           upsert of the embedded chunks plus delete of the zero-chunk,
           failed and removed documents (ops 9-26).
  state    ONE snapshot: the processed, failed and removed sets merged
           into the state table (op 34).

The touched buckets rest on the invariant that the store holds chunks
of exactly the documents the processed state lists; a never-stored
poison or zero-chunk document leaves its bucket untouched.

A crash between the store rewrite and the state commit leaves the old
state, so the next pass selects the same documents and converges: the
rewrite replaces what it wrote and the deletes find nothing. (If the
input changes before that next pass so that a document first written by
the crashed pass now fails, nothing lists it as stored and its chunks
stay until it is processed again.)

Failure semantics match the reference's per-document contract
(file_processing_service.py:48-131): a poison document surfaces as an
error row from the chunk UDF, lands in the failed side of the state
table, keeps no chunks, and is retried every pass until it succeeds
(identify consults only the processed state).
A document yielding zero chunks is a *success* with no chunks
("obsolete law", file_processing_service.py:79-89).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from lovdata_pipeline_spark.chunking.spark import chunk_batch
from lovdata_pipeline_spark.config import ChunkParams, PipelineConfig
from lovdata_pipeline_spark.embedding import EmbeddingProvider, embed_batch, mock_hash_provider
from lovdata_pipeline_spark.operators.incremental import (
    filter_datasets,
    identify_changed,
    identify_removed,
)
from lovdata_pipeline_spark.schemas import ENRICHED_CHUNKS_SCHEMA
from lovdata_pipeline_spark.session import driver_rows
from lovdata_pipeline_spark.sources.chunk_store import ChunkStore
from lovdata_pipeline_spark.sources.state_store import StateStore


@dataclass
class PipelineResult:
    """Summary aggregates (reference: models.py:24-28, cli exit contract)."""

    processed: int
    failed: int
    removed: int

    @property
    def total(self) -> int:
        return self.processed + self.failed + self.removed


def chunk_and_embed_df(
    documents: DataFrame,
    params: ChunkParams,
    provider: EmbeddingProvider,
    model_name: str,
    embedded_at: str,
    batch_size: int,
) -> DataFrame:
    """Chunk every document row (``doc_id, dataset_name, xml,
    source_hash``) and embed its good chunks in ONE ``mapInPandas``: the
    rows of
    ``embed_chunks_df(chunk_documents_df(documents).filter("error IS NULL"))``
    plus the poison documents' error rows, whose embedding columns are
    NULL. Error rows never reach the provider; a provider exception fails
    the task (and the pass) instead of becoming an error row. Good chunks
    go to ``embed_batch`` in slices of at most ``maxRecordsPerBatch`` rows,
    the Arrow batches the two-stage plan would embed."""
    per_slice = int(
        documents.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    columns = [f.name for f in ENRICHED_CHUNKS_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            chunks = chunk_batch(pdf, params)
            bad = chunks["error"].notna()
            if bad.any():
                errors = chunks[bad]
                yield errors.assign(
                    embedding=pd.Series([None] * len(errors), index=errors.index, dtype=object),
                    embedding_model=None,
                    embedded_at=None,
                )[columns]
            good = chunks[~bad]
            step = per_slice if per_slice > 0 else max(1, len(good))
            for i in range(0, len(good), step):
                yield embed_batch(
                    good.iloc[i : i + step], provider, batch_size, model_name, embedded_at
                )

    return documents.select("doc_id", "dataset_name", "xml", "source_hash").mapInPandas(
        run, schema=ENRICHED_CHUNKS_SCHEMA
    )


def run_pipeline(
    documents: DataFrame,
    store: ChunkStore,
    state: StateStore,
    config: PipelineConfig | None = None,
    now: str | None = None,
    provider=None,
) -> PipelineResult:
    """Run one incremental pass over a documents DataFrame.

    ``documents`` carries the manifest columns (doc_id, dataset_name,
    relative_path, source_hash, status) plus ``xml`` content.

    ``provider`` is the embedding callable (``embedding.EmbeddingProvider``);
    default is the deterministic offline mock. Pass
    ``embedding.openai_compatible_provider(model=...)`` (optionally
    wrapped in ``embedding.rate_limited``) for real vectors — before r10
    there was no injection point, so a caller setting
    ``config.embedding_model`` to a real model name got mock vectors
    persisted under that label (r10 review).
    """
    config = config or PipelineConfig()
    at = now or datetime.now(timezone.utc).isoformat()
    spark = documents.sparkSession

    # --- identify (runs BEFORE the expensive chunk/embed stage) -----------
    documents = filter_datasets(documents, config.dataset_pattern)
    prior = state.processed().select("doc_id", "hash")
    cols = ["doc_id", "dataset_name", "source_hash", "stored"]
    # The changed and removed rows, each scanned and hashed once; both
    # identify joins share one broadcast of the processed state.
    pending = (
        identify_changed(documents, prior, config.force, config.limit)
        .select(*cols, "xml", F.lit(False).alias("removed"))
        .unionByName(
            identify_removed(documents, prior).select(
                *cols, F.lit(None).cast("string").alias("xml"), F.lit(True).alias("removed")
            )
        )
        .repartition("doc_id")
        .cache()
    )
    chunked = decisions = None
    try:
        # --- decide: the fused stage, then ONE job for the outcome --------
        chunked = chunk_and_embed_df(
            pending.filter(~F.col("removed")),
            config.chunk,
            provider or mock_hash_provider(config.embedding_dims),
            config.embedding_model,
            at,
            config.embed_batch_size,
        ).cache()
        per_doc = chunked.groupBy(F.col("document_id").alias("doc_id")).agg(
            F.count(F.when(F.col("error").isNull(), 1)).alias("n_chunks"),
            F.min("error").alias("error"),
        )
        decisions = (
            pending.select("doc_id", F.col("source_hash").alias("hash"), "removed", "stored")
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                "hash",
                F.coalesce("n_chunks", F.lit(0).cast("long")).alias("n_chunks"),
                "error",
                "removed",
                "stored",
            )
            .cache()
        )
        is_ok = ~F.col("removed") & F.col("error").isNull()
        # One row per processed document stays distributed (on a first
        # load or a `force` run that is the whole corpus); only the counts,
        # the exceptions — failed, zero-chunk and removed documents — and
        # the touched buckets come to the driver.
        summary = decisions.agg(
            F.count(F.when(is_ok, 1)).alias("n_ok"),
            F.collect_list(
                F.when(
                    (F.col("n_chunks") == 0) | F.col("error").isNotNull(),
                    F.struct("doc_id", "hash", "error", "removed"),
                )
            ).alias("rest"),
            F.collect_set(
                F.when(
                    (F.col("n_chunks") > 0) | F.col("stored"),
                    store._bucket_col(F.col("doc_id")),
                )
            ).alias("buckets"),
        ).first()
        n_ok = summary.n_ok
        failed = [(r.doc_id, r.hash, r.error) for r in summary.rest if r.error is not None]
        gone = [r.doc_id for r in summary.rest if r.removed]
        # A reprocessed doc that now yields ZERO chunks contributes no
        # upsert rows, and a previously processed doc whose NEW version
        # fails must not keep serving its old chunks (the reference's
        # cleanup branch): both are deleted with the removed docs in the
        # same rewrite, or `validate` reports the store stale.
        delete = [r.doc_id for r in summary.rest]

        # --- store: ONE rewrite of the touched buckets ----------------------
        if summary.buckets:
            store.upsert_chunks(
                chunked.filter(F.col("error").isNull()), delete=delete, buckets=summary.buckets
            )

        # --- state: ONE snapshot (the commit log, op 34) --------------------
        if n_ok or failed or gone:
            state.mark_processed(
                decisions.filter(is_ok).select("doc_id", "hash"),
                at,
                failed=driver_rows(spark, failed, "doc_id string, hash string, error string"),
                removed=driver_rows(spark, [(d,) for d in gone], "doc_id string"),
            )
    finally:
        for df in (pending, chunked, decisions):
            if df is not None:
                df.unpersist()

    return PipelineResult(processed=n_ok, failed=len(failed), removed=len(gone))
