"""Training-shard packing: assign documents to fixed token-budget shards
in a stable global order — the "pack the corpus into ~N-token training
shards" step of an LLM data pipeline.

The core is a DISTRIBUTED PREFIX SUM (the textbook two-phase scan): a
single global window (``Window.orderBy(id)`` with no partition key) would
funnel the whole corpus through one task, the classic scale cliff. Here:

  phase 1  repartitionByRange(id)  → per-partition token subtotals
           (one row per partition, k rows collected to the driver);
  phase 2  driver prefix-sums the k subtotals into partition offsets
           (a k-element loop), broadcasts them back, and a
           partition-LOCAL window (partitionBy spark_partition_id)
           computes the within-partition running sum.

global running total = partition offset + local running sum. Every step
is JVM-side; the only driver materialization is k subtotal rows. The
assignment is independent of the partition count (pinned by
``test_pack_into_shards_partition_independent``) because prefix sums are
a function of the global id order only.

Two consumers of the same prefix sum:
  * ``pack_into_shards``     — whole documents → fixed token-budget shards;
  * ``pack_token_sequences`` — token-level fixed-length training sequences
    crossing document boundaries (the "concatenate the corpus, cut every
    seq_len tokens" pretraining step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from lovdata_pipeline_spark.operators.textstats import _clean_split
from lovdata_pipeline_spark.session import driver_rows

# Cached offsets frames retained by global_token_offsets. The cache is
# load-bearing while a derived frame may still be acted on (see the
# function docstring), so release is a caller decision: call
# release_offsets_caches() after the FINAL action on anything derived
# from a packing operator. Long-lived sessions packing many batches
# otherwise accrete one InMemoryRelation per call.
_RETAINED: list[DataFrame] = []


def release_offsets_caches() -> int:
    """Unpersist every offsets frame retained by ``global_token_offsets``
    and return how many were released. Safe to call repeatedly; only
    call once all actions on frames derived from packing operators have
    run. A post-release action on a derived frame is UNSAFE, not just
    wasteful: recomputation re-draws the range partitioning while the
    plan still joins the driver-baked offsets of the OLD partition
    assignment, so tok_start would silently stop being a valid prefix
    sum. Release means "this lineage is dead" — build a fresh operator
    call for new work."""
    n = 0
    while _RETAINED:
        _RETAINED.pop().unpersist()
        n += 1
    return n


def global_token_offsets(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, n_tokens, tok_start): tok_start = sum of ``token_col`` over
    all rows with smaller ``id_col`` — the distributed prefix sum
    described in the module docstring.

    The returned frame is CACHED and eagerly materialized: the cache is
    load-bearing, not an optimization — it pins the offsets computed
    against the (sampling-dependent) range partitioning before
    ``with_pid`` is released, so later actions can never recompute
    against a re-drawn partitioning. The cost is one retained
    (id, n_tokens, tok_start) InMemoryRelation per call: long-lived
    sessions packing many batches should call ``release_offsets_caches()``
    once the derived frames' final actions have run — bench and the
    registry rely on the session's cache clearing.
    """
    parts = df.select(id_col, token_col)
    ranged = (
        parts.repartitionByRange(num_partitions, F.col(id_col))
        if num_partitions is not None
        else parts.repartitionByRange(F.col(id_col))
    )
    # PIN the range partitioning before anything reads it. Each action
    # re-plans the physical Exchange, and RangePartitioner boundaries come
    # from reservoir sampling (plus AQE coalescing with no explicit
    # partition count) — two executions can legally disagree once upstream
    # exceeds the sample size. Persisting makes the first physical plan an
    # InMemoryRelation both phases (and any cache-miss recomputation) read,
    # so _pid is one consistent assignment; it also keeps the corpus scan
    # single-pass. Released before return, same cache+count discipline as
    # ngram_jaccard_pairs.
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).persist()

    # phase 1: k subtotal rows — the ONLY driver materialization. This
    # first action also populates the persist above (r13: a separate
    # count() job beforehand materialized the cache the collect below
    # would have populated anyway — one job, not two; the pinning
    # guarantee only needs SOME first action to fill the cache).
    # range partitioner maps ascending id ranges to ascending partition
    # ids, so prefix-summing subtotals in _pid order gives each
    # partition the total token mass of all ids before its range.
    subtotals = {
        int(r["_pid"]): int(r["t"])
        for r in with_pid.groupBy("_pid").agg(F.sum(token_col).alias("t")).collect()
    }
    offsets, running = {}, 0
    for pid in sorted(subtotals):
        offsets[pid] = running
        running += subtotals[pid]

    offset_df = driver_rows(
        df.sparkSession, list(offsets.items()), "_pid int, _offset long"
    )

    # phase 2: partition-local running sum (window keyed by _pid never
    # crosses partitions → no single-task funnel), plus the offset.
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(token_col).over(local_w), F.lit(0)) + F.col("_offset")
    result = (
        with_pid.join(F.broadcast(offset_df), "_pid")
        .select(
            F.col(id_col),
            F.col(token_col),
            cum_before.cast("long").alias("tok_start"),
        )
    ).cache()
    result.count()
    with_pid.unpersist()
    _RETAINED.append(result)
    return result


def pack_into_shards(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, n_tokens, shard_id): shard_id = floor(tokens-before-this-doc /
    budget) in ascending ``id_col`` order — documents stream into a shard
    until the budget is crossed, then the next shard starts.

    ``num_partitions`` sizes the range partitioning (default: session
    shuffle partitions). Output values are partition-count-independent.
    """
    off = global_token_offsets(df, id_col, token_col, num_partitions)
    return off.select(
        F.col(id_col),
        F.col(token_col),
        F.floor(F.col("tok_start") / F.lit(budget)).cast("long").alias("shard_id"),
    )


def pack_token_sequences(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    num_partitions: int | None = None,
) -> DataFrame:
    """Fixed-length training-sequence assignment: the corpus is one
    virtual token stream in ascending ``id_col`` order, cut every
    ``seq_len`` tokens; each document reports where its tokens land.

    (id, n_tokens, tok_start, seq_start, seq_end, n_seqs, offset_in_seq):
    ``seq_start``/``seq_end`` are the first/last sequence index touched,
    ``n_seqs`` how many sequences the document spans (0 for empty
    documents), ``offset_in_seq`` the position of the document's first
    token within its first sequence. Downstream shuffle-writers group by
    sequence index to emit actual training rows; this operator is the
    distributed bookkeeping that makes that grouping local arithmetic.
    """
    off = global_token_offsets(df, id_col, token_col, num_partitions)
    return _sequence_fields(off, seq_len, id_col, token_col)


def _sequence_fields(
    off: DataFrame, seq_len: int, id_col: str, token_col: str
) -> DataFrame:
    tok_start = F.col("tok_start")
    n_tok = F.col(token_col)
    seq_start = F.floor(tok_start / F.lit(seq_len)).cast("long")
    seq_end = F.floor((tok_start + n_tok - 1) / F.lit(seq_len)).cast("long")
    return off.select(
        F.col(id_col),
        n_tok,
        tok_start,
        seq_start.alias("seq_start"),
        F.when(n_tok > 0, seq_end).otherwise(seq_start).alias("seq_end"),
        F.when(n_tok > 0, seq_end - seq_start + 1)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_seqs"),
        (tok_start % seq_len).cast("long").alias("offset_in_seq"),
    )


def sequence_manifest(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    num_partitions: int | None = None,
) -> DataFrame:
    """One row per TRAINING SEQUENCE: (seq_id, n_docs, n_tokens_filled,
    first_doc, last_doc) — the writer-side view of sequence packing:
    grouping by seq_id is exactly the shuffle a sequence emitter runs,
    and the manifest is what a data loader reads to locate documents.

    Per-(doc, sequence) token contribution is pure interval arithmetic
    over the prefix sum — min(doc_end, seq_end) − max(doc_start,
    seq_start), all integers. Every interior sequence reports exactly
    ``seq_len`` filled tokens (only the corpus tail may be short), an
    invariant the tests pin. explode(sequence(...)) fans each doc to
    the sequences it touches — bounded by n_tokens/seq_len + 1 rows per
    doc, so the fan-out carries small ints, never text.
    """
    seqs = pack_token_sequences(df, seq_len, id_col, token_col, num_partitions)
    per = (
        seqs.filter(F.col("n_seqs") > 0)
        .select(
            F.col(id_col),
            F.col("tok_start"),
            F.col(token_col),
            F.explode(F.sequence(F.col("seq_start"), F.col("seq_end"))).alias("seq_id"),
        )
        .withColumn(
            "filled",
            F.least(F.col("tok_start") + F.col(token_col), (F.col("seq_id") + 1) * seq_len)
            - F.greatest(F.col("tok_start"), F.col("seq_id") * seq_len),
        )
    )
    return per.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("filled").alias("n_tokens_filled"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def emit_token_sequences(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
) -> DataFrame:
    """The SEQUENCE EMITTER: materialize the actual fixed-length training
    rows that ``sequence_manifest`` only books — (seq_id, n_docs,
    n_tokens_filled, seq_text), where ``seq_text`` is each sequence's
    tokens in global corpus order, space-joined. What a data loader
    actually consumes; every interior sequence carries exactly
    ``seq_len`` tokens (only the corpus tail may be short).

    Scale shape — each token moves across the wire EXACTLY ONCE:

      1. tokenize scan-locally (whitespace split, the registry's token
         convention) and prefix-sum the counts (two-phase distributed
         scan, k-row driver materialization only);
      2. join text back on the id (one sort-merge shuffle by id);
      3. fan each doc out to the sequences it touches via
         ``explode(sequence(seq_start, seq_end))`` and SLICE the token
         array per (doc, sequence) BEFORE the groupBy — the shuffle to
         seq_id carries only the tokens that belong to each sequence,
         never whole documents;
      4. groupBy(seq_id): ``array_sort`` on (tok_start, slice) structs
         restores global order deterministically, ``flatten`` +
         ``array_join`` emit the row. All steps codegen builtins — no
         Python in the path.

    Skew-free by construction: a sequence holds at most ``seq_len``
    tokens, so groupBy(seq_id) partitions are uniformly tiny no matter
    how skewed document lengths are.
    """
    trimmed = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    toks = df.select(
        F.col(id_col),
        _clean_split(trimmed).alias("_toks"),
    ).withColumn("n_tokens", F.size("_toks"))

    off = global_token_offsets(toks, id_col, "n_tokens", num_partitions)
    fields = _sequence_fields(off, seq_len, id_col, "n_tokens")
    joined = fields.filter(F.col("n_seqs") > 0).join(
        toks.select(id_col, "_toks"), id_col
    )

    seq_id = F.col("seq_id")
    tok_start = F.col("tok_start")
    # 0-based slice start within the doc's token array, and its length:
    # the same interval arithmetic the manifest uses.
    sl_start = F.greatest(seq_id * seq_len - tok_start, F.lit(0))
    sl_len = F.least(tok_start + F.col("n_tokens"), (seq_id + 1) * seq_len) - F.greatest(
        tok_start, seq_id * seq_len
    )
    per = joined.select(
        tok_start,
        F.explode(F.sequence(F.col("seq_start"), F.col("seq_end"))).alias("seq_id"),
        F.col("_toks"),
        F.col("n_tokens"),
    ).select(
        "seq_id",
        F.struct(
            tok_start.alias("o"),
            F.slice("_toks", (sl_start + 1).cast("int"), sl_len.cast("int")).alias("t"),
        ).alias("piece"),
    )

    ordered = F.array_sort(F.collect_list("piece"))
    flat = F.flatten(ordered.getField("t"))
    return per.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"),
        F.size(flat).cast("long").alias("n_tokens_filled"),
        F.array_join(flat, " ").alias("seq_text"),
    )


def training_order(
    df: DataFrame, key_col: str = "doc_id", seed: str = "shuffle-v1"
) -> DataFrame:
    """Deterministic GLOBAL SHUFFLE for training order: every input row
    plus a dense 0-based ``shuffle_rank`` — the corpus in the
    pseudo-random order a training run should consume it, reproducible
    on any engine and any partition count.

    rank = position of md5(key ‖ seed) in the sorted order of all keys'
    hashes. A naive ``row_number() OVER (ORDER BY hash)`` funnels the
    corpus through ONE task; this reuses ``global_token_offsets``' two-
    phase prefix sum with unit weights (rank = count of smaller hashes),
    so ranking is fully distributed: range-partition by hash, k subtotal
    rows to the driver, partition-local windows. The only extra cost vs
    the naive plan is one join back on the 32-char hash key. md5 output
    is unique per distinct key in practice, making the order total;
    reshuffle with a new ``seed`` for a different epoch order. CACHE
    NOTE: the rank frame is session-cached via ``_RETAINED`` — call
    ``release_offsets_caches()`` between waves in long-lived sessions.

    PRECONDITION: ``key_col`` values must be unique — duplicate keys
    share one hash, so their relative order is undefined. The rank frame
    aggregates to one rank per key below, so duplicate-key rows all
    receive that key's smallest rank (ranks then not dense) instead of
    the old behavior, where the join back multiplied each duplicate
    group quadratically (r10 review).
    """
    keyed = df.withColumn(
        "_shuffle_key",
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(seed))),
    )
    ranks = (
        global_token_offsets(
            keyed.withColumn("_one", F.lit(1)), id_col="_shuffle_key", token_col="_one"
        )
        .groupBy("_shuffle_key")
        .agg(F.min("tok_start").alias("shuffle_rank"))
    )
    return keyed.join(ranks, "_shuffle_key").drop("_shuffle_key")


def length_bucketed_batches(
    df: DataFrame,
    batch_size: int,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
) -> DataFrame:
    """LENGTH-BUCKETED BATCHING for inference/embedding serving: rank
    rows by (token count, id) and cut every ``batch_size`` rows —
    consecutive batches hold similar-length inputs, which is what
    minimizes padding waste in a batched transformer forward pass.

    (id, n_tokens, rank, batch_id): ``rank`` is the dense 0-based
    position in (n_tokens, id) order, ``batch_id = rank // batch_size``.
    The global ordering reuses ``global_token_offsets``' two-phase
    prefix sum with UNIT weights over a fixed-width sortable composite
    key (zero-padded decimal ``n_tokens‖id`` — string order ≡ numeric
    order), so there is no single-task global window; max padding waste
    within a batch is bounded by the token-count spread of
    ``batch_size`` rank-adjacent rows.
    """
    numeric = {"int", "bigint", "smallint", "tinyint"}
    for c in (token_col, id_col):
        t = df.schema[c].dataType.simpleString()
        if t not in numeric:
            raise ValueError(
                f"length_bucketed_batches needs integral {c!r} (got {t}): the "
                "fixed-width sort key is zero-padded decimal, which is only "
                "order-preserving for non-negative integers"
            )
    # order-preserving ONLY for 0 <= n_tokens < 10^10 and 0 <= id <
    # 10^12: negatives would reverse order as strings and widths beyond
    # the padding would break it. Enforced at EXECUTION with raise_error
    # inside the key expression (zero extra Spark actions — a min/max
    # pre-scan would cost a full corpus pass at scale); previously only
    # the dtype was validated and an out-of-range value silently
    # mis-batched (r10 review).
    in_range = (
        (F.col(token_col) >= 0)
        & (F.col(token_col) < F.lit(10**10))
        & (F.col(id_col) >= 0)
        & (F.col(id_col) < F.lit(10**12))
    )
    keyed = df.select(
        F.col(id_col),
        F.col(token_col),
        F.when(
            in_range,
            F.format_string("%010d-%012d", F.col(token_col), F.col(id_col)),
        )
        .otherwise(
            F.raise_error(
                F.format_string(
                    "length_bucketed_batches: (%s=%s, %s=%s) outside the "
                    "fixed-width sortable key range [0,1e10)x[0,1e12)",
                    F.lit(token_col),
                    F.col(token_col).cast("string"),
                    F.lit(id_col),
                    F.col(id_col).cast("string"),
                )
            )
        )
        .alias("_bkey"),
    )
    ranks = global_token_offsets(
        keyed.withColumn("_one", F.lit(1)), id_col="_bkey", token_col="_one"
    ).select("_bkey", F.col("tok_start").alias("rank"))
    return (
        keyed.join(ranks, "_bkey")
        .select(
            id_col,
            token_col,
            "rank",
            F.floor(F.col("rank") / F.lit(batch_size)).cast("long").alias("batch_id"),
        )
    )
