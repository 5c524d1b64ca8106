"""Benchmark decontamination — n-gram overlap between a training corpus
and an evaluation/benchmark set.

The canonical frontier-pipeline step (GPT-3 appendix C / PaLM / Llama
style): a training document is contaminated if it shares at least
``min_overlaps`` distinct word n-grams with any benchmark document.
Flagged documents are then dropped (``decontaminate``) or routed to
manual review. Not present in the reference (its corpus is a closed
legal corpus); first-class here because no LLM training pipeline ships
without it.

Scale shape at 100 TB:
  * Train-side n-grams are generated SCAN-LOCALLY (split + higher-order
    ``transform`` over an index sequence + ``xxhash64``) — no window, so
    document text never shuffles. This deliberately trades the ~3×
    faster-but-shuffling window formulation of
    ``dedup.hashed_word_shingles`` for zero data movement: at corpus
    scale the word-level window shuffle IS the bottleneck, while the
    interpreted higher-order expression is a constant CPU factor that
    scales out with executors.
  * The benchmark side is small by nature (eval sets are MBs against a
    100 TB corpus) → its distinct (n-gram, bench_doc) pairs BROADCAST;
    the contamination join is a map-side broadcast hash join.
  * The only shuffle is the per-document aggregate, and it carries
    16-byte (doc_id, ngram-hash) partial-distinct pairs — never text.
    Catalyst's partial aggregation collapses those map-side first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from lovdata_pipeline_spark.operators.skew import collect_bounded, spread_if_narrow
from lovdata_pipeline_spark.operators.textstats import _clean_split
from lovdata_pipeline_spark.session import driver_rows


def ngram_hash_array(text_col: str, n: int) -> Column:
    """array<bigint> of word-n-gram hashes for one row, computed inside
    the scan projection (shared by the batch explode path and the
    streaming row-local filter).

    ``sequence(1, size-n+1)`` would generate a DESCENDING sequence when a
    document has fewer than n words (Spark's sequence walks backwards for
    start > stop), so short documents are guarded to an empty array.
    """
    w = _clean_split(F.col(text_col))
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.xxhash64(F.array_join(F.slice(w, i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _scan_local_ngram_hashes(
    docs: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, shingle: bigint) word-n-gram hashes, generated inside the scan
    projection (NOT distinct — downstream distinct aggregation dedups on
    the 8-byte hash, so the pre-shuffle data is already minimal)."""
    # input-skew fix (r13, guide §2.5): the interpreted gram lambda runs
    # in the scan stage — spread a single-file input so it parallelizes
    return spread_if_narrow(docs).select(
        F.col(id_col), F.explode(ngram_hash_array(text_col, n)).alias("shingle")
    )


def ngram_overlap_flags(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_overlaps: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Contamination report: one row per flagged training document.

    Returns (id, n_ngrams, n_overlap, n_benchmark_docs, overlap_frac):
    the document's distinct n-gram count, how many of those n-grams
    appear anywhere in the benchmark, how many distinct benchmark
    documents it collides with, and the contaminated fraction.

    Exact semantics (hash-collision-equivalent, same contract as
    ``dedup.ngram_jaccard_pairs``): a train n-gram matches iff the same
    word sequence occurs in some benchmark document.
    """
    tsh = _scan_local_ngram_hashes(train, text_col, id_col, n)
    bsh = (
        _scan_local_ngram_hashes(benchmark, text_col, id_col, n)
        .select(F.col(id_col).alias("bench_doc"), "shingle")
        .distinct()
    )
    j = tsh.join(F.broadcast(bsh), "shingle", "left")
    matched: Column = F.when(F.col("bench_doc").isNotNull(), F.col("shingle"))
    return (
        j.groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_ngrams"),
            F.countDistinct(matched).alias("n_overlap"),
            F.countDistinct("bench_doc").alias("n_benchmark_docs"),
        )
        .filter(F.col("n_overlap") >= min_overlaps)
        # UNROUNDED: the ratio of two exact integers is bit-identical in
        # every IEEE engine, while round(·, 6) diverges across engines on
        # exact decimal ties (e.g. 1/128 = 0.0078125) — the same
        # discipline as hashed_linear_quality's logit.
        .withColumn("overlap_frac", F.col("n_overlap") / F.col("n_ngrams"))
    )


def contaminated_ids(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct ids of training documents sharing ≥ 1 word-n-gram with
    the benchmark — the EXISTENCE form of the contamination check (the
    ``min_overlaps=1`` fast path): a semi-join against the broadcast
    benchmark gram set, skipping ``ngram_overlap_flags``' three-way
    distinct aggregation (whose countDistinct Expand triples pre-shuffle
    rows). Output is bounded by benchmark size × collision fan-out, so
    downstream joins against it broadcast."""
    tsh = _scan_local_ngram_hashes(train, text_col, id_col, n)
    bset = (
        _scan_local_ngram_hashes(benchmark, text_col, id_col, n)
        .select("shingle")
        .distinct()
    )
    return (
        tsh.join(F.broadcast(bset), "shingle", "leftsemi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_overlaps: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The cut: training rows minus contaminated documents (left-anti
    join against the flag set — broadcastable, since the flagged id list
    is bounded by benchmark size × collision fan-out, not corpus size).

    At the default ``min_overlaps=1`` the cut needs EXISTENCE of one
    shared n-gram, not counts — a semi-join against the broadcast
    benchmark set, skipping ``ngram_overlap_flags``' three-way distinct
    aggregation (the countDistinct Expand triples pre-shuffle rows).
    Same output by definition: "n_overlap ≥ 1" ⇔ "some shingle matched".
    """
    if min_overlaps <= 1:
        flags = contaminated_ids(train, benchmark, n, text_col, id_col)
    else:
        flags = ngram_overlap_flags(
            train, benchmark, n, min_overlaps, text_col, id_col
        ).select(id_col)
    return train.join(F.broadcast(flags), id_col, "left_anti")


def benchmark_contamination_report(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The reverse direction: which BENCHMARK documents are compromised,
    and how badly — (bench_doc, n_contaminated_train_docs,
    n_shared_ngrams). The report an eval owner reads before trusting a
    score; same broadcast join as the forward flags, aggregated by the
    benchmark side (k distinct bench docs ⇒ k output rows)."""
    tsh = _scan_local_ngram_hashes(train, text_col, id_col, n).distinct()
    bsh = (
        _scan_local_ngram_hashes(benchmark, text_col, id_col, n)
        .select(F.col(id_col).alias("bench_doc"), "shingle")
        .distinct()
    )
    return (
        tsh.join(F.broadcast(bsh), "shingle")
        .groupBy("bench_doc")
        .agg(
            F.countDistinct(id_col).alias("n_contaminated_train_docs"),
            F.countDistinct("shingle").alias("n_shared_ngrams"),
        )
    )


def benchmark_ngram_set(
    benchmark: DataFrame, n: int = 3, text_col: str = "text"
) -> list[int]:
    """The benchmark's distinct n-gram hashes, collected to the driver —
    bounded by benchmark size (eval sets are MBs by contract), the same
    asymmetry the broadcast join exploits. Feed to
    ``decontaminate_rowlocal`` for streams or repeated incremental runs
    (compute once, reuse per micro-batch)."""
    rows = (
        benchmark.select(F.explode(ngram_hash_array(text_col, n)).alias("shingle"))
        .distinct()
        .collect()
    )
    return sorted(r["shingle"] for r in rows)


def decontaminate_rowlocal(
    docs: DataFrame, bench_set: list[int], n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Row-local decontamination: keep rows sharing NO n-gram with the
    benchmark set, as a pure ``arrays_overlap`` filter against the
    inlined set — no join, no aggregation, no shuffle.

    This is the STREAMING form (stream-side aggregation would force
    watermarks, and a per-shingle anti-join can't drop whole documents):
    each micro-batch row is checked scan-locally, so the operator
    composes with any trigger/checkpoint and with ``foreachBatch``
    sinks. Batch callers with a huge flagged set should prefer
    ``decontaminate``; the inlined literal is the explicit
    benchmark-is-small contract."""
    bench = F.array(*[F.lit(int(h)) for h in bench_set]).cast("array<bigint>")
    return docs.filter(~F.arrays_overlap(ngram_hash_array(text_col, n), bench))


def _ws_normalized(text_col: str) -> Column:
    """Whitespace-collapsed text (single spaces, trimmed) — the form in
    which substring containment is well-defined across formatting."""
    return F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")


def exact_substring_contamination(
    corpus: DataFrame,
    needles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    needle_text_col: str = "text",
    needle_id_col: str = "doc_id",
    anchor_n: int = 5,
) -> DataFrame:
    """EXACT-substring contamination: (doc_id, needle_id, position) for
    every corpus document whose whitespace-normalized text contains a
    needle (benchmark prompt / answer string) verbatim — the strict
    complement of the n-gram-overlap flags for cases where "shares
    n-grams" is too loose (leaked eval answers, verbatim prompts).

    Never a cartesian: containment of the full needle implies the
    corpus doc also contains the needle's FIRST ``anchor_n``-word gram,
    so candidates come from an equi-join of the corpus's scan-local
    n-gram hashes (text never shuffles — same discipline as
    ``ngram_overlap_flags``) against the needles' broadcast anchor
    hashes; only candidate pairs fetch text for the exact
    ``locate`` verification. Needles shorter than ``anchor_n`` words
    take no part (documented contract — same ``n`` floor as the n-gram
    family). Containment is WORD-ALIGNED (the match starts and ends at
    token boundaries — both sides are space-padded before ``locate``, so
    "bar foo" never matches inside "xbar foo"); alignment is also what
    makes the anchor-gram candidate generation COMPLETE, since an
    aligned match of the needle implies an aligned match of its first
    gram. ``position`` is the 1-based character offset of the match in
    the normalized corpus text.

    At 100 TB: the gram fan-out carries 8-byte hashes; the needle side
    is eval-set-sized (MBs) and broadcasts twice (anchors, then texts);
    the verification join touches only flagged docs. A pathologically
    common anchor (a needle starting with a stock phrase) widens the
    candidate set but never the output — pick needles' distinctive
    spans, or raise ``anchor_n``.
    """
    norm_needle = F.regexp_replace(F.trim(F.col(needle_text_col)), r"\s+", " ")
    nw = _clean_split(F.col(needle_text_col))
    bench = needles.select(
        F.col(needle_id_col).alias("needle_id"),
        norm_needle.alias("_needle"),
        F.when(
            F.size(nw) >= anchor_n,
            F.xxhash64(F.array_join(F.slice(nw, 1, anchor_n), " ")),
        ).alias("_anchor"),
    ).filter(F.col("_anchor").isNotNull())

    grams = _scan_local_ngram_hashes(corpus, text_col, id_col, anchor_n)
    cands = (
        grams.join(F.broadcast(bench.select("needle_id", "_anchor")),
                   grams["shingle"] == F.col("_anchor"))
        .select(id_col, "needle_id")
        .distinct()
    )
    verified = (
        cands.join(
            # spread (guide §2.5): when the candidate side broadcasts,
            # the normalization + locate run in the corpus scan stage —
            # parallelize a single-file input (no-op at corpus scale).
            # Spread the RAW column and normalize after the exchange,
            # or the regex would still run inside the scan task.
            spread_if_narrow(corpus.select(F.col(id_col), F.col(text_col)))
            .select(F.col(id_col), _ws_normalized(text_col).alias("_hay")),
            id_col,
        )
        .join(F.broadcast(bench.select("needle_id", "_needle")), "needle_id")
        .withColumn(
            "position",
            F.expr("locate(concat(' ', _needle, ' '), concat(' ', _hay, ' '))").cast(
                "long"
            ),
        )
        .filter(F.col("position") > 0)
    )
    return verified.select(id_col, "needle_id", "position")


def exact_contamination_rowlocal(
    docs: DataFrame, needles: list[str], text_col: str = "text"
) -> DataFrame:
    """Row-local exact-substring decontamination: keep rows whose
    whitespace-normalized text contains NONE of the needle strings
    (word-aligned, same padded-locate rule as
    ``exact_substring_contamination``) — a pure filter, no join, no
    aggregation, no shuffle.

    The STREAMING form: the needle list is collected once (eval sets
    are MBs by contract — the same asymmetry as ``benchmark_ngram_set``)
    and inlined as an array literal; each micro-batch row checks
    scan-locally via ``exists``, composing with any trigger and
    ``foreachBatch`` sink. Needles are whitespace-normalized before
    inlining so formatting differences on either side never mask a hit.
    """
    import re as _re

    normed = [_re.sub(r"\s+", " ", s.strip()) for s in needles if s and s.strip()]
    arr = F.array(*[F.lit(" " + s + " ") for s in normed]).cast("array<string>")
    # coalesce: NULL text contains nothing — without it the NULL
    # propagates through concat/exists and the filter DROPS the row.
    hay = F.concat(
        F.lit(" "), F.coalesce(_ws_normalized(text_col), F.lit("")), F.lit(" ")
    )
    hit = F.exists(arr, lambda ndl: hay.contains(ndl))
    return docs.filter(~hit)


def remove_contaminated_spans(
    corpus: DataFrame,
    needles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    needle_text_col: str = "text",
    needle_id_col: str = "doc_id",
    anchor_n: int = 5,
    keep_text: bool = False,
) -> DataFrame:
    """Span-level decontamination SURGERY: cut every word-aligned
    occurrence of every needle (benchmark prompt / leaked answer) out of
    the corpus text, keeping the rest of the document — the
    removal-not-rejection form frontier pipelines actually apply when a
    long document embeds a short eval snippet (dropping the whole doc
    wastes the other 99%; cf. ``decontaminate`` for the drop form and
    ``dedup.remove_duplicated_spans`` for the dup-span analog).

    Returns one row per corpus document: (id, n_needles_hit,
    n_tokens_removed, clean_hash) — the count of DISTINCT needle texts
    matched, tokens excised, and md5 of the whitespace-normalized
    surgered text (surgery is defined in normalized token space, so
    untouched documents hash their normalized text; NULL text hashes
    ''). ``keep_text=True`` adds the ``clean_text`` column itself.

    Exactness: matches are computed as the UNION of covered token
    positions over all needles against the ORIGINAL token array — one
    needle's removal can never create or destroy another's match, chains
    of consecutive occurrences are fully excised (a sequential
    string-``replace`` fold misses every second occurrence of a chain
    because adjacent matches share their boundary space), and
    overlapping needles compose by position-set union. Matching is
    word-aligned string equality on the token slice — no hash-collision
    caveat. Needles shorter than ``anchor_n`` words take no part (same
    floor as ``exact_substring_contamination``); duplicate needle texts
    collapse to one entry.

    Plan shape at 100 TB (same discipline as
    ``exact_substring_contamination``): candidate (doc, needle) pairs
    come from the scan-local anchor-gram hash equi-join against the
    broadcast needle anchors — lossless pruning, since an aligned match
    of the full needle implies an aligned match of its first
    ``anchor_n``-gram — so the quadratic token-position scan runs ONLY
    on flagged documents (contamination is rare by construction), text
    never shuffles except flagged rows joining their needle lists, and
    untouched documents pass through a left join as a pure scan-local
    projection.

    The per-document needle lists are small by contract: one
    ``skew.collect_bounded`` job evaluates them into driver rows, which
    are broadcast and survive executor loss (nothing is checkpointed).
    On a mass-contaminated corpus past ``SPARK_GRAFT_MAX_BROADCAST_ROWS``
    it warns and the left join shuffles over the lazy lists instead.
    """
    nw = _clean_split(F.col(needle_text_col))
    bench = needles.select(
        F.col(needle_id_col).alias("needle_id"),
        F.array_join(nw, " ").alias("_needle"),
        F.size(nw).alias("_nlen"),
        F.when(
            F.size(nw) >= anchor_n,
            F.xxhash64(F.array_join(F.slice(nw, 1, anchor_n), " ")),
        ).alias("_anchor"),
    ).filter(F.col("_anchor").isNotNull())

    grams = _scan_local_ngram_hashes(corpus, text_col, id_col, anchor_n)
    cands = (
        grams.join(
            F.broadcast(bench.select("needle_id", "_anchor")),
            grams["shingle"] == F.col("_anchor"),
        )
        .select(id_col, "needle_id")
        .distinct()
    )
    # one array of distinct (nlen, needle) structs per flagged doc;
    # array_sort pins the (irrelevant-to-semantics) fold order so plans
    # are byte-stable across partitionings
    per_doc = (
        cands.join(
            F.broadcast(bench.select("needle_id", "_needle", "_nlen")), "needle_id"
        )
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_set(
                    F.struct(
                        F.col("_nlen").alias("nlen"), F.col("_needle").alias("needle")
                    )
                )
            ).alias("_ndls")
        )
    )

    # ONE corpus text scan: left-join the (rare) per-doc needle lists
    # onto the corpus and branch every surgery expression on "_ndls IS
    # NULL" — CaseWhen evaluates lazily per row, so untouched documents
    # pay only the normalization regex, never the token-position
    # machinery, and no second corpus scan + re-join is needed for them
    # (the first cut of this operator re-scanned the corpus for a _norm
    # column and joined it back: 3 corpus scans where 2 suffice).
    # r13 optimization (guide §3.1): per_doc is bounded by flagged docs
    # × the (MB-sized by contract) needle set — contamination is rare by
    # construction — while the corpus is the 100 TB side. The planner's
    # estimate for the collect_set aggregate is poor enough that it fell
    # back to a SortMergeJoin, SHUFFLING THE WHOLE CORPUS for a left
    # join against a rare-row table; the explicit broadcast keeps the
    # corpus scan-local (plan: SortMergeJoin LeftOuter + 2 Exchanges →
    # BroadcastHashJoin, corpus side exchange-free). The rarity contract
    # is checked by skew.collect_bounded, whose rows are the broadcast
    # side; past the bound the join shuffles over the lazy per_doc.
    rows = collect_bounded(per_doc)
    if rows is not None:
        per_doc = F.broadcast(driver_rows(corpus.sparkSession, rows, per_doc.schema))
    # spread (guide §2.5): with the broadcast below the surgery
    # expressions execute in the corpus scan stage — a single-file input
    # would serialize them onto one task (no-op on corpus-scale inputs)
    joined = spread_if_narrow(
        corpus.select(F.col(id_col), F.col(text_col).alias("_text"))
    ).join(per_doc, id_col, "left")
    return _apply_surgery(joined, id_col, F.col("_ndls").isNull(), keep_text)


def _apply_surgery(
    frame: DataFrame, id_col: str, untouched: Column, keep_text: bool
) -> DataFrame:
    """Shared splice stage of the surgery forms: ``frame`` carries
    ``_text`` and ``_ndls`` (array<struct<nlen,needle>>); every
    expression branches on ``untouched`` (CaseWhen is lazy per row, so
    rows it selects pay only the normalization regex)."""
    words = _clean_split(F.col("_text"))
    # per needle: all aligned match start positions in the ORIGINAL
    # array. The tokenize is BOUND ONCE per row as a lambda variable
    # (the 1-element transform wrapper): higher-order functions are
    # interpreted with no codegen subexpression elimination, so
    # referencing the raw split expression from inside the position
    # lambda would re-run the split per candidate position per needle
    # — the r8 phrase-search lesson (search.py:phrase_match_counts).

    def _hits_of(w):
        nw = F.size(w)
        return F.transform(
            F.col("_ndls"),
            lambda ndl: F.struct(
                ndl["nlen"].alias("nlen"),
                F.filter(
                    F.when(
                        nw >= ndl["nlen"],
                        F.sequence(F.lit(1), nw - ndl["nlen"] + 1),
                    ).otherwise(F.array().cast("array<int>")),
                    lambda p: F.array_join(F.slice(w, p, ndl["nlen"]), " ")
                    == ndl["needle"],
                ).alias("starts"),
            ),
        )

    hits = F.element_at(F.transform(F.array(words), _hits_of), 1)
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("_hits"),
                lambda h: F.flatten(
                    F.transform(
                        h["starts"], lambda p: F.sequence(p, p + h["nlen"] - 1)
                    )
                ),
            )
        )
    )
    def _spliced(w):
        # same bind-once discipline: w is the materialized token array
        kept = F.filter(
            F.when(F.size(w) >= 1, F.sequence(F.lit(1), F.size(w))).otherwise(
                F.array().cast("array<int>")
            ),
            lambda i: ~F.array_contains(F.col("_covered"), i),
        )
        return F.array_join(F.transform(kept, lambda i: F.element_at(w, i)), " ")

    norm = F.coalesce(_ws_normalized("_text"), F.lit(""))
    clean = F.when(untouched, norm).otherwise(
        F.element_at(F.transform(F.array(words), _spliced), 1)
    )
    out = frame.withColumn("_hits", hits).withColumn("_covered", covered)
    cols = [
        F.col(id_col),
        F.when(untouched, F.lit(0))
        .otherwise(F.size(F.filter(F.col("_hits"), lambda h: F.size(h["starts"]) > 0)))
        .alias("n_needles_hit"),
        F.when(untouched, F.lit(0)).otherwise(F.size("_covered")).alias(
            "n_tokens_removed"
        ),
        F.md5(clean).alias("clean_hash"),
    ]
    if keep_text:
        cols.append(clean.alias("clean_text"))
    return out.select(*cols)


def remove_contaminated_spans_rowlocal(
    docs: DataFrame,
    needles: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_text: bool = False,
) -> DataFrame:
    """Row-local surgery form of ``remove_contaminated_spans``: the
    needle list is collected once (eval sets are MBs by contract, same
    asymmetry as ``benchmark_ngram_set``) and inlined as a struct-array
    literal, so the operator is a PURE PROJECTION — no join, no
    aggregation, no shuffle — and composes with any streaming trigger,
    checkpoint, and ``foreachBatch`` sink.

    Semantics match the join form exactly (union of covered token
    positions over all needles against the original token array;
    word-aligned; duplicate needle texts collapse), with one documented
    difference: there is no anchor-width floor — every non-empty needle
    takes part. A cheap padded-``contains`` prefilter plays the anchor
    join's role: rows containing NO needle skip the token-position
    machinery entirely (the same lazy-branch discipline as the batch
    form), so the per-row cost is |needles| string scans for clean rows
    and the position scan only on hits.
    """
    import re as _re

    normed = sorted(
        {_re.sub(r"\s+", " ", s.strip()) for s in needles if s and s.strip()}
    )
    ndls = F.array(
        *[
            F.struct(
                F.lit(len(s.split(" "))).alias("nlen"), F.lit(s).alias("needle")
            )
            for s in normed
        ]
    ).cast("array<struct<nlen:int,needle:string>>")
    hay = F.concat(
        F.lit(" "), F.coalesce(_ws_normalized("_text"), F.lit("")), F.lit(" ")
    )
    padded = F.array(*[F.lit(" " + s + " ") for s in normed]).cast("array<string>")
    untouched = ~F.exists(padded, lambda ndl: hay.contains(ndl))
    # NULL the needle list for untouched rows so the hits/covered
    # machinery short-circuits exactly like the batch join form (where
    # the left join leaves _ndls NULL): transform/flatten over a NULL
    # array return NULL immediately, so clean rows pay only the padded
    # contains prefilter + normalization — never the O(|needles|·n·len)
    # aligned-slice scan.
    frame = docs.select(
        F.col(id_col), F.col(text_col).alias("_text")
    ).withColumn("_ndls", F.when(~untouched, ndls))
    return _apply_surgery(frame, id_col, F.col("_ndls").isNull(), keep_text)
