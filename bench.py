"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints TWO JSON lines — the full dump, then a compact headline-only
line (r4's full dump exceeded the driver's tail capture and it recorded
"parsed": null; the compact LAST line always fits):
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "spread": {name: sec, ...}, "sf": <sf>}
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "pipeline_docs_per_sec": ..., "n_queries": ..., "sf": <sf>}

Each query is fully materialized via the `noop` sink (no driver
collect). Times include plan + execution, not session startup.
Per-query numbers are MEDIANS of SPARK_GRAFT_BENCH_REPS (default 3)
runs; "spread" is the trimmed max-min across the reps, so cross-round
deltas are attributable (machine-load variance was ±50% on single
samples). r3 VERDICT #7 (spreads exceeding medians make deltas
unjudgeable) is addressed adaptively: a query whose spread still
exceeds its median gets up to 4 extra reps, and once ≥5 samples exist
the single top sample is dropped from the spread — load noise is
one-sided (a loaded machine only ever ADDS time; the fast samples are
the true cost), so trimming the max is principled where trimming the
min would not be. The median stays computed over ALL samples.

r7: the e2e pipeline (and its docs/s headline) is measured FIRST, in
the fresh warmed JVM before any headline-query load — r6's artifact
showed a 37% docs/s drop purely from measuring it after 67 queries.
Set SPARK_GRAFT_BENCH_E2E_ONLY=1 for a solo e2e control run.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lovdata_pipeline_spark.queries import QUERIES
from lovdata_pipeline_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_region_revenue",
    "anti_join_changed",
    "events_hourly",
    "events_sessionize",
    "dedup_exact_groups",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_minhash_lsh",
    "dedup_components",
    "dedup_simhash",
    "dedup_shared_spans",
    "dedup_embedding_cosine",
    "dedup_incremental_minhash",
    "dedup_keep_best_quality",
    "semantic_dedup_pairs_embeddings",
    "paragraph_dedup_documents",
    "boilerplate_strip_documents",
    "hard_negatives_embeddings",
    "bitext_mine_margin",
    "decontaminate_benchmark_overlap",
    "exact_contamination_documents",
    "decontam_remove_spans",
    "ann_cosine_topk",
    "ann_topk_pq",
    "ann_topk_sq8",
    "ann_topk_ivfpq",
    "ann_topk_ivf_index",
    "knn_join_top3",
    "text_language_id",
    "text_quality",
    "text_fingerprints",
    "text_winnowing",
    "text_repetition",
    "text_repetition_signals",
    "text_unigram_surprisal",
    "text_bigram_surprisal",
    "text_kn_surprisal",
    "perplexity_buckets_by_source",
    "pca_variance_report_embeddings",
    "ann_pca_rerank_recall_embeddings",
    "text_quality_classifier",
    "train_quality_classifier_documents",
    "text_gopher_quality",
    "quality_blend_documents",
    "importance_score_documents",
    "text_bm25_search",
    "tfidf_keywords_by_source",
    "bpe_pair_stats",
    "bpe_learned_merges",
    "bpe_token_counts",
    "events_rolling_1h",
    "events_retention_cohorts",
    "events_funnel_counts",
    "knn_classify_embeddings",
    "quality_quota_by_source",
    "weighted_sample_documents",
    "shard_pack_documents",
    "pack_sequences_documents",
    "pack_emit_sequences",
    "training_order_documents",
    "epoch_mix_documents",
    "temperature_mix_orders",
    "cluster_balanced_sample_embeddings",
    "hash_split_documents",
    "stratified_split_exact",
    "mixture_plan_by_source",
    "token_length_band_documents",
    "vocab_drift_by_source",
    "length_bucketed_batches_documents",
    "chunk_documents_pipeline",
    "embed_documents_pipeline",
    "curation_pipeline",
    "pretraining_pipeline",
    "curation_report_by_source",
    "validate_documents_expectations",
    "streaming_vocab_counts",
    "streaming_session_counts",
    # --- r7c additions ---
    "zipf_slope_by_source",
    "collocation_pmi_bigrams",
    "pagerank_doc_graph",
    "scd2_user_event_intervals",
    "filter_attrition_report",
    "streaming_dedup_counts",
    # --- r7d additions ---
    "cms_token_estimates",
    "hll_distinct_by_source",
    # --- r7e additions ---
    "embedding_outliers_by_label",
    "phrase_search_documents",
    # --- r8 additions ---
    "text_kn_trigram_surprisal",
    "hll_store_merged_counts",
    "hll_vocab_overlap_sources",
    "streaming_interval_join_counts",
    "knn_edges_ivf_embeddings",
    "bloom_token_membership",
    # --- r9 additions ---
    "streaming_session_append_counts",
    "bitext_mine_margin_bucketed",
    # --- r12 additions ---
    "zorder_box_prune_events",
    "zorder_append_box_scan",
    "hdr_quantile_order_totals",
    "hdr_store_merged_quantiles",
    "bloom_prefilter_join_orders",
]


# Static packing order for the FINAL compact line's "queries" subset
# (r14): descending cost on the r14 baseline run (this keeps the subset
# identical across the driver's 32- and 8-core runs — a measured-order
# sort would not be). Queries added later simply sort after these,
# alphabetically; nothing here affects what is measured, only which
# rows land inside the driver's ~2000-char tail capture.
_TAIL_PRIORITY = [
    "dedup_incremental_minhash", "ann_pca_rerank_recall_embeddings",
    "dedup_components", "curation_pipeline", "bitext_mine_margin",
    "zorder_append_box_scan", "dedup_minhash_lsh", "pipeline_e2e",
    "pagerank_doc_graph", "dedup_simhash", "pretraining_pipeline",
    "streaming_session_counts", "dedup_ngram_jaccard_capped",
    "dedup_ngram_jaccard", "ann_topk_ivfpq", "text_kn_trigram_surprisal",
    "train_quality_classifier_documents", "perplexity_buckets_by_source",
    "bitext_mine_margin_bucketed", "collocation_pmi_bigrams",
    "streaming_interval_join_counts", "bpe_token_counts",
    "text_kn_surprisal", "semantic_dedup_pairs_embeddings",
    "ann_topk_ivf_index", "knn_edges_ivf_embeddings",
    "curation_report_by_source", "zipf_slope_by_source",
    "streaming_session_append_counts", "cluster_balanced_sample_embeddings",
    "decontaminate_benchmark_overlap", "ann_topk_pq", "dedup_shared_spans",
    "text_repetition_signals", "streaming_vocab_counts",
    "text_bigram_surprisal", "importance_score_documents",
    "boilerplate_strip_documents", "decontam_remove_spans",
    "dedup_embedding_cosine", "cms_token_estimates",
    "length_bucketed_batches_documents", "embed_documents_pipeline",
    "pack_emit_sequences", "text_unigram_surprisal", "text_repetition",
    "q1_pricing_summary", "hdr_quantile_order_totals",
    "weighted_sample_documents", "tfidf_keywords_by_source",
    "quality_blend_documents", "q5_region_revenue", "vocab_drift_by_source",
    "chunk_documents_pipeline", "bpe_learned_merges", "ann_topk_sq8",
    "hdr_store_merged_quantiles", "streaming_dedup_counts",
    "training_order_documents", "hll_store_merged_counts",
    "shard_pack_documents", "hll_vocab_overlap_sources",
    "bloom_prefilter_join_orders", "stratified_split_exact",
    "text_winnowing", "knn_classify_embeddings",
    "exact_contamination_documents", "quality_quota_by_source",
    "dedup_keep_best_quality", "pack_sequences_documents",
    "filter_attrition_report", "hard_negatives_embeddings",
    "pca_variance_report_embeddings", "text_language_id",
    "paragraph_dedup_documents", "text_gopher_quality", "text_quality",
    "q3_top_unshipped", "text_quality_classifier", "bpe_pair_stats",
    "scd2_user_event_intervals", "hll_distinct_by_source",
    "events_rolling_1h", "bloom_token_membership", "events_sessionize",
    "text_bm25_search", "knn_join_top3", "events_funnel_counts",
    "anti_join_changed", "temperature_mix_orders",
    "token_length_band_documents", "embedding_outliers_by_label",
    "text_fingerprints", "events_retention_cohorts", "epoch_mix_documents",
    "zorder_box_prune_events", "validate_documents_expectations",
    "dedup_exact_groups", "phrase_search_documents", "events_hourly",
    "mixture_plan_by_source", "ann_cosine_topk", "hash_split_documents",
]


def _measure(rep, reps: int) -> tuple[float, float]:
    """(median, trimmed spread) of ``rep()`` timings — see module
    docstring for the policy."""
    samples = [rep() for _ in range(reps)]
    while True:
        s = sorted(samples)
        med = s[len(s) // 2]
        trimmed = s[:-1] if len(s) >= 5 else s
        spread = trimmed[-1] - trimmed[0]
        if spread <= med or len(samples) >= reps + 4:
            return round(med, 3), round(spread, 3)
        samples.append(rep())


def release_caches(spark) -> None:
    """Drop the caches a query fn created (shingle sets etc.) so reps
    don't accumulate executor memory pressure; the module release calls
    also empty the retained-frame lists, which clearCache alone leaves
    growing (r6 review)."""
    from lovdata_pipeline_spark.operators.packing import release_offsets_caches
    from lovdata_pipeline_spark.operators.textstats import release_textstats_caches

    release_offsets_caches()
    release_textstats_caches()
    spark.catalog.clearCache()


def run_once(spark, fn, sf_dir: str) -> float:
    """One timed rep of a registry query: plan + execution into the
    ``noop`` sink, then its caches released outside the timed region."""
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    elapsed = time.time() - t0
    release_caches(spark)
    return elapsed


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    # JVM/codegen warmup so the first measured query isn't charged for it
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Python-worker warmup (r13, declared in OPTIMIZATION_r13.md): the
    # e2e pipeline is measured FIRST in the fresh JVM (r7 rule), which
    # charged its first rep ~32 cold Python worker forks + pandas/pyarrow
    # imports — interpreter startup, not pipeline work. One trivial
    # pandas-UDF pass over one partition per core warms the pool, the
    # exact analog of the JVM warmup line above. (The UDF is built via
    # mapInPandas, which needs no resolvable type hints — a plain
    # `s: _pd.Series` annotation is a string under `from __future__
    # import annotations` and pandas_udf cannot resolve it here.)
    import pandas as _pd  # noqa: F401 — imported so workers warm it too

    def _warm_batches(batches):
        for b in batches:
            yield b

    # SPARK_GRAFT_NO_WORKER_WARMUP=1 skips the pool warmup — the r14
    # control knob for the docs/s bridge (VERDICT r13 Next #10: one e2e
    # record WITHOUT the r13 warmup next to the warmed number, so the
    # r12→r14 docs/s series has a comparable point; BENCH_AUX
    # e2e_warmup_bridge). The graded bench never sets it.
    if not os.environ.get("SPARK_GRAFT_NO_WORKER_WARMUP"):
        n_warm = spark.sparkContext.defaultParallelism
        spark.range(n_warm * 32, numPartitions=n_warm).mapInPandas(
            _warm_batches, "id long"
        ).write.format("noop").mode("overwrite").save()

    # median over reps: machine load variance swamps single samples
    # (observed 2.8-11.9 s for the same query under load); the median is
    # robust to one loaded rep, and the max-min spread is emitted so a
    # round-over-round delta can be judged against the noise floor.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}

    # ------------------------------------------------------------------
    # E2E pipeline FIRST, in the fresh warmed JVM, BEFORE any headline-
    # query load (r6 VERDICT Next #1: the engine's advertised docs/s fell
    # 37% purely from bench-JVM load when measured after 67 queries —
    # the headline number must not depend on what ran before it).
    # Full incremental pipeline: chunk → embed → bucketed-store upsert →
    # state commit. The reference's baseline for the same path is
    # 10-50 files/s chunking and 100-500 chunks/s storage (BASELINE.md).
    # ------------------------------------------------------------------
    import shutil
    import tempfile

    from lovdata_pipeline_spark.config import ChunkParams, PipelineConfig
    from lovdata_pipeline_spark.pipeline import run_pipeline
    from lovdata_pipeline_spark.queries import _documents_as_xml
    from lovdata_pipeline_spark.sources.chunk_store import ChunkStore
    from lovdata_pipeline_spark.sources.state_store import StateStore
    from pyspark.sql import functions as F

    docs = _documents_as_xml(spark, sf_dir).withColumn(
        "relative_path", F.col("doc_id")
    ).withColumn("status", F.lit("added"))
    cfg = PipelineConfig(chunk=ChunkParams(100, 500, 50, 0.15), embedding_dims=64)
    processed_box: list[int] = []

    def run_e2e_once():
        tmp = tempfile.mkdtemp(prefix="bench_pipeline_")
        try:
            store = ChunkStore(spark, f"{tmp}/chunks", n_buckets=32)
            state = StateStore(spark, f"{tmp}/state")
            t0 = time.time()
            result = run_pipeline(docs, store, state, cfg, now="bench")
            processed_box.append(result.processed)
            return time.time() - t0
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    timings["pipeline_e2e"], spreads["pipeline_e2e"] = _measure(run_e2e_once, reps)
    pipeline_docs_per_sec = round(processed_box[-1] / timings["pipeline_e2e"], 1)

    # solo mode: measure ONLY the e2e pipeline and exit — the control
    # run for verifying the in-bench number is load-free
    if os.environ.get("SPARK_GRAFT_BENCH_E2E_ONLY"):
        print(
            json.dumps(
                {
                    "metric": "pipeline_e2e_solo",
                    "value": timings["pipeline_e2e"],
                    "unit": "sec",
                    "spread": spreads["pipeline_e2e"],
                    "pipeline_docs_per_sec": pipeline_docs_per_sec,
                    "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                }
            )
        )
        spark.stop()
        return

    for name in HEADLINE:
        timings[name], spreads[name] = _measure(
            functools.partial(run_once, spark, QUERIES[name], sf_dir), reps
        )

    total = round(sum(timings.values()), 3)
    # stamp the tree this record describes (r10 VERDICT Next #3: the
    # round-end bench must be mechanically attributable to the final
    # tree — "+dirty" marks uncommitted changes at run time)
    from tools.gitinfo import tree_sha as _tree_sha

    tree_sha = _tree_sha()
    payload = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        # per-query MEDIANS over reps (spread = trimmed max-min); the e2e
        # pipeline entry is measured FIRST in the fresh JVM — see above
        "stat": "median",
        "tree_sha": tree_sha,
        "queries": timings,
        "spread": spreads,
        "pipeline_docs_per_sec": pipeline_docs_per_sec,
        "pipeline_e2e_isolated_first": True,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(json.dumps(payload))
    # Also persist the full per-query dump locally (r5 VERDICT #5): the
    # driver's tail capture keeps only the compact last line, which made
    # round-over-round per-query comparison require a solo re-bench.
    from tools.gitinfo import atomic_json_dump

    atomic_json_dump(
        payload,
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"),
        indent=1,
    )
    # Final compact line(s) — r14 (VERDICT r13 Next #2). The driver keeps
    # only the last ~2000 chars of output and parses the last JSON line
    # inside them; r4's full dump overflowed that (parsed: null) and the
    # r4..r13 compact line carried no "queries" at all, which left
    # PERF's per-query comparator empty for two optimization rounds. The
    # full 103-entry map is ~3.1 KB and can never fit, so: emit ONE
    # overflow line with the low-priority rows (parseable on its own if
    # the driver scans multiple tail lines; also preserved in full in
    # BENCH_LOCAL.json and the first dump line), then the FINAL contract
    # line with the headline fields plus as many per-query medians (2dp)
    # as fit a 1700-char budget, packed in the committed _TAIL_PRIORITY
    # order — a static cost ranking, so the driver's 32- and 8-core runs
    # carry the SAME key subset and the scaling comparator sees a common
    # set. Nothing is removed or renamed: every query still appears in
    # the full dump; the tail line is a prefix of a fixed ordering.
    order = [n for n in _TAIL_PRIORITY if n in timings] + sorted(
        n for n in timings if n not in _TAIL_PRIORITY
    )
    base = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "pipeline_docs_per_sec": pipeline_docs_per_sec,
        "pipeline_e2e_sec": timings["pipeline_e2e"],
        "pipeline_e2e_spread": spreads["pipeline_e2e"],
        "n_queries": len(timings),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    tail_q: dict[str, float] = {}
    for name in order:
        trial = dict(base)
        trial["queries"] = {**tail_q, name: round(timings[name], 2)}
        if len(json.dumps(trial, separators=(",", ":"))) > 1700:
            break
        tail_q[name] = round(timings[name], 2)
    rest = {n: round(timings[n], 2) for n in timings if n not in tail_q}
    if rest:
        print(
            json.dumps(
                {
                    "metric": "headline_queries_rest",
                    "unit": "sec",
                    "queries": rest,
                    "sf": base["sf"],
                },
                separators=(",", ":"),
            )
        )
    base["queries"] = tail_q
    print(json.dumps(base, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
