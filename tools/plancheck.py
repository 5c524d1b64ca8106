"""Physical-plan audit: assert the plans we designed for are the plans
Catalyst actually produces.

Checks per query (where applicable):
  * filters reached the parquet scan (DataFilters / PushedFilters);
  * scans read only needed columns (ReadSchema pruning);
  * small dimensions broadcast (no sort-merge for dim joins at test SF);
  * no CartesianProduct / BroadcastNestedLoopJoin outside the whitelisted
    intentional cross joins.

Run: python tools/plancheck.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lovdata_pipeline_spark.queries import QUERIES
from lovdata_pipeline_spark.session import get_spark

# queries where a nested-loop/cartesian is the intended shape (tiny side
# or deliberate all-pairs verification step)
# not_exists_high_value / dedup_exact_groups: broadcast of a 1-row scalar
# aggregate (max-id shift / decorrelated scalar subquery) — the plan
# Catalyst itself produces for a scalar broadcast, O(1) rows on one side.
CROSS_JOIN_OK = {
    "knn_join_top3",
    "dedup_embedding_cosine",
    "not_exists_high_value",
    "dedup_exact_groups",
    # bm25: crossJoin(broadcast(corpus)) attaches the 1-row N/avgdl
    # scalar aggregate — O(1) rows on one side, same shape as the
    # scalar-subquery broadcast above; hybrid composes bm25; the
    # surprisal query broadcasts its 1-row N/V LM stats the same way.
    "text_bm25_search",
    "hybrid_search_rrf",
    "text_unigram_surprisal",
    # bigram form: the same 1-row V scalar broadcast.
    "text_bigram_surprisal",
    # perplexity buckets compose bigram_surprisal — the same 1-row V
    # scalar broadcast (the tercile cut table itself equi-joins).
    "perplexity_buckets_by_source",
    # PCA rerank broadcasts the (small) query side in both stages — the
    # whitelisted knn_join shape.
    "ann_pca_rerank_recall_embeddings",
    # pretraining_pipeline: the ingest stage broadcasts the same 1-row
    # max-id shift scalar as dedup_exact_groups (O(1) rows on one side).
    "pretraining_pipeline",
    # tfidf: the 1-row N (corpus doc count) scalar broadcast, the
    # bm25/surprisal shape again.
    "tfidf_keywords_by_source",
    # knn classification routes through knn_join's broadcast-query
    # crossJoin — identical to the whitelisted knn_join_top3.
    "knn_classify_embeddings",
    # hard-negative mining broadcasts the (small, human-labeled) anchor
    # side — the knn_join shape with a label filter.
    "hard_negatives_embeddings",
    # length-band filter broadcasts the 1-row percentile-bounds
    # aggregate — the scalar-subquery shape again.
    "token_length_band_documents",
    # z-order quantization broadcasts the 1-row min/max range
    # aggregate — the scalar-subquery shape (r12).
    "zorder_box_prune_events",
    # hll set algebra builds the unordered group-pair grid with a
    # broadcast inequality join of two |groups|-row DISTINCT frames —
    # parameter-bounded on BOTH sides (never corpus rows; the register
    # table itself is |groups|·m and collected into driver rows), r13.
    "hll_vocab_overlap_sources",
    # vocab drift crosses the |sources|-row totals with the broadcast
    # n_buckets range (a bounded parameters-sized grid) and the 1-row
    # corpus total.
    "vocab_drift_by_source",
    # bitext mining broadcasts the smaller language side for the pair
    # scorer — the knn_join shape (at scale both sides pre-bucket via
    # LSH/IVF and the join gains a bucket equi-key).
    "bitext_mine_margin",
    # Kneser–Ney: the 1-row distinct-bigram-type total B rides the same
    # scalar broadcast as the unigram/bigram surprisal forms.
    "text_kn_surprisal",
    # trigram form: the same 1-row type-total (B2) scalar broadcast.
    "text_kn_trigram_surprisal",
    # collocation PMI: TWO 1-row scalar broadcasts (unigram total Tu,
    # bigram total Tb) — the bm25/surprisal shape; the vocabulary
    # re-attach joins are plain equi-joins.
    "collocation_pmi_bigrams",
}

# queries whose scans must show a pushed filter
EXPECT_PUSHED_FILTER = {
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_region_revenue",
    "filter_like",
    "point_lookup",
    "positional_ids",
    "semi_join_processed",
    "left_join_customer_orders",
    "exists_agg_priority",
    "scalar_subquery_part_avg",
}

# queries that must not read every table column (projection pruning)
EXPECT_PRUNED = {
    "q1_pricing_summary": ("lineitem", {"l_comment_never_exists", "l_shipmode"}),
}

# join-bearing queries that should be all-broadcast at small SF
EXPECT_BROADCAST = {"q3_top_unshipped", "q5_region_revenue", "anti_join_changed"}

# scan-count budgets: r5 VERDICT #2 flagged the curation report for 5×
# read amplification (5 corpus scans + 3 id-joins). The fixed shape is
# ONE flags projection + ONE gram explode over the train corpus, plus
# the benchmark slice — which only reads documents.parquet here because
# the synthetic query derives its benchmark from the same table; a real
# eval set is its own input (the ≤2-corpus-scan form is pinned by
# tests/test_r6_operators.py::test_curation_report_single_scan_plan).
EXPECT_MAX_FILESCANS = {"curation_report_by_source": ("documents.parquet", 3)}


def audit(spark, sf_dir: str) -> list[str]:
    problems: list[str] = []
    for name, fn in QUERIES.items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:
            problems.append(f"{name}: plan failed: {exc}")
            continue
        if name not in CROSS_JOIN_OK and (
            "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
        ):
            problems.append(f"{name}: unexpected cartesian/nested-loop join")
        if name in EXPECT_PUSHED_FILTER and not re.search(
            r"(DataFilters|PushedFilters): \[[^\]]*(isnotnull|=|<|>|Contains)", plan
        ):
            problems.append(f"{name}: no pushed filter on any scan")
        if name in EXPECT_BROADCAST:
            if "SortMergeJoin" in plan:
                problems.append(f"{name}: dim join fell back to sort-merge at test SF")
            if "BroadcastHashJoin" not in plan:
                problems.append(f"{name}: expected a broadcast hash join")
        if name in EXPECT_MAX_FILESCANS:
            table, budget = EXPECT_MAX_FILESCANS[name]
            n_scans = sum(
                table in s for s in re.findall(r"FileScan parquet[^\n]*", plan)
            )
            if n_scans > budget:
                problems.append(
                    f"{name}: {n_scans} scans of {table} (budget {budget})"
                )
        print(f"audited {name}")
    return problems


def main(sf_dir: str) -> int:
    spark = get_spark("plancheck")
    problems = audit(spark, sf_dir)
    spark.stop()
    if problems:
        print("\nPLAN PROBLEMS:")
        for p in problems:
            print(" -", p)
        return 1
    print("\nall plans clean")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
