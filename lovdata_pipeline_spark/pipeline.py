"""The orchestrated incremental pipeline (op 35).

The reference's fixed 4-stage DAG — sync → identify → process
(chunk→embed→index) → cleanup (reference:
orchestration/pipeline_orchestrator.py:116-173) — commits state after
every document (state.py:43-102, pipeline_orchestrator.py:316-331).
Here a pass picks its input once and commits once, the way a Structured
Streaming trigger does for one micro-batch. Identify is one anti-join
of the documents frame itself (xml included) against the processed
state on (doc_id, hash), so the changed rows feed the chunker directly;
then come three driver actions:

  decide   ONE aggregate over a cached per-document decision table —
           (doc_id, hash, chunk count, error, removed?) for every changed
           or removed document, from identify (ops 3-8) and the cached
           chunk UDF output. The driver gets the counts and the id lists
           of the failed, zero-chunk and removed documents; the processed
           rows stay distributed, since on a first load or a `force` run
           they are the whole corpus.
  store    ONE bucket rewrite: upsert of the embedded chunks plus delete
           of the zero-chunk, failed and removed documents (ops 9-26).
  state    ONE snapshot: the processed, failed and removed sets merged
           into the state table (op 34).

A crash between the store rewrite and the state commit leaves the old
state, so the next pass selects the same documents and converges: the
rewrite replaces what it wrote and the deletes find nothing.

Failure semantics match the reference's per-document contract
(file_processing_service.py:48-131): a poison document surfaces as an
error row from the chunk UDF, lands in the failed side of the state
table, keeps no chunks, and is retried every pass until it succeeds
(identify consults only the processed state).
A document yielding zero chunks is a *success* with no chunks
("obsolete law", file_processing_service.py:79-89).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, functions as F

from lovdata_pipeline_spark.chunking import chunk_documents_df
from lovdata_pipeline_spark.config import PipelineConfig
from lovdata_pipeline_spark.embedding import embed_chunks_df, mock_hash_provider
from lovdata_pipeline_spark.operators.incremental import (
    filter_datasets,
    identify_changed,
    identify_removed,
)
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

    # --- identify (runs BEFORE the expensive chunk/embed stages) ----------
    documents = filter_datasets(documents, config.dataset_pattern)
    to_process = identify_changed(
        documents, state.processed().select("doc_id", "hash"), config.force, config.limit
    )
    removed = identify_removed(documents)

    # --- decide: chunk, then ONE job for the per-document outcome ----------
    chunked = chunk_documents_df(to_process, config.chunk).cache()
    decisions = None
    try:
        per_doc = chunked.groupBy(F.col("document_id").alias("doc_id")).agg(
            F.count(F.when(F.col("error").isNull(), 1)).alias("n_chunks"),
            F.min("error").alias("error"),
        )
        decisions = (
            to_process.select("doc_id", F.col("source_hash").alias("hash"))
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                "hash",
                F.coalesce("n_chunks", F.lit(0).cast("long")).alias("n_chunks"),
                "error",
                F.lit(False).alias("removed"),
            )
            .unionByName(
                removed.select(
                    "doc_id",
                    F.col("source_hash").alias("hash"),
                    F.lit(0).cast("long").alias("n_chunks"),
                    F.lit(None).cast("string").alias("error"),
                    F.lit(True).alias("removed"),
                )
            )
            .cache()
        )
        is_ok = ~F.col("removed") & F.col("error").isNull()
        # One row per processed document stays distributed (on a first
        # load or a `force` run that is the whole corpus); only the counts
        # and the exceptions — failed, zero-chunk and removed documents —
        # come to the driver.
        summary = decisions.agg(
            F.count(F.when(is_ok, 1)).alias("n_ok"),
            F.count(F.when(F.col("n_chunks") > 0, 1)).alias("n_chunked"),
            F.collect_list(
                F.when(
                    (F.col("n_chunks") == 0) | F.col("error").isNotNull(),
                    F.struct("doc_id", "hash", "error", "removed"),
                )
            ).alias("rest"),
        ).first()
        n_ok = summary.n_ok
        failed = [(r.doc_id, r.hash, r.error) for r in summary.rest if r.error is not None]
        gone = [r.doc_id for r in summary.rest if r.removed]
        failed_ids = [d for d, _, _ in failed]
        # A reprocessed doc that now yields ZERO chunks contributes no
        # upsert rows, and a previously processed doc whose NEW version
        # fails must not keep serving its old chunks (the reference's
        # cleanup branch): both are deleted with the removed docs in the
        # same rewrite, or `validate` reports the store stale.
        delete = [r.doc_id for r in summary.rest]

        # --- store: embed → ONE bucket rewrite ------------------------------
        if summary.n_chunked or delete:
            good = chunked.filter(F.col("error").isNull())
            if failed_ids:
                good = good.filter(~F.col("document_id").isin(failed_ids))
            enriched = embed_chunks_df(
                good,
                provider=provider or mock_hash_provider(config.embedding_dims),
                model_name=config.embedding_model,
                embedded_at=at,
                batch_size=config.embed_batch_size,
                dims=config.embedding_dims,
            )
            store.upsert_chunks(enriched, delete=delete)

        # --- state: ONE snapshot (the commit log, op 34) --------------------
        if n_ok or failed or gone:
            state.mark_processed(
                decisions.filter(is_ok).select("doc_id", "hash"),
                at,
                failed=driver_rows(spark, failed, "doc_id string, hash string, error string"),
                removed=driver_rows(spark, [(d,) for d in gone], "doc_id string"),
            )
    finally:
        chunked.unpersist()
        if decisions is not None:
            decisions.unpersist()

    return PipelineResult(processed=n_ok, failed=len(failed), removed=len(gone))
