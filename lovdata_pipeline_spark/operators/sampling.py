"""Deterministic stratified sampling — the domain-mixing step of an LLM
data pipeline ("keep 20% of web, 100% of books, 5% of logs, …").

Sampling is a pure filter on a PORTABLE hash of the row key (first 15
hex digits of md5, the same trick as ``dedup.portable_token_hash``), so:

  * reproducible: the same row is kept in every run, on every engine —
    the DuckDB oracle replays the identical decision, no RNG state;
  * distributed: no shuffle at all — the filter runs inside the scan,
    and Catalyst pushes the strata predicate alongside it;
  * resumable: re-sampling after appending new rows never flips the
    decision for existing rows (hash depends on the key alone).

A seed string mixes into the hash so independent samples (train/val
splits, A/B slices) decorrelate.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from lovdata_pipeline_spark.session import driver_rows

#: hash-space denominator: rates are granular to 0.01%.
DENOM = 10_000


def portable_hash60(key: Column, seed: str = "") -> Column:
    """Full-resolution portable hash: first 15 md5 hex digits of
    (key ‖ seed) as a long — 60 uniform bits, fits a long exactly.
    String-hex based so external engines reproduce it bit-for-bit."""
    return F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(seed))), 1, 15), 16, 10
    ).cast("long")


def portable_rate_hash(key: Column, seed: str = "") -> Column:
    """Uniform value in [0, DENOM) from the row key — the 60-bit portable
    hash mod DENOM (rate decisions are granular to 0.01%, so 10k values
    suffice; continuous draws use ``portable_hash60`` directly)."""
    return portable_hash60(key, seed) % DENOM


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str,
    key_col: str,
    seed: str = "",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    ``rates`` maps stratum value → keep fraction in [0, 1]; strata not
    listed keep ``default_rate``. The plan is a single filter — no
    shuffle, no RNG, no driver state.

    The keep decision compares the hash against an INTEGER threshold
    ``round(frac * DENOM)`` fixed once per stratum on the driver
    (r3 ADVICE): a float product like ``0.07 * 10000`` evaluates to
    700.0000000000001 in binary, so an engine replaying the decision in
    decimal arithmetic would flip rows hashing exactly to the boundary.
    Integer-vs-integer comparison is bit-identical on every engine.
    """
    threshold = F.lit(int(round(float(default_rate) * DENOM)))
    for value, frac in sorted(rates.items()):
        threshold = F.when(
            F.col(strata_col) == value, F.lit(int(round(float(frac) * DENOM)))
        ).otherwise(threshold)
    return df.filter(portable_rate_hash(F.col(key_col), seed) < threshold)


def temperature_thresholds(
    counts: dict, alpha: float, denom: int = DENOM
) -> dict:
    """Integer keep-thresholds for temperature-α domain mixing.

    Standard α-scaled sampling (the GPT-3/PaLM multilingual mix):
    stratum mass ∝ c^α ⇒ per-row keep rate ∝ c^(α−1), normalized so the
    SMALLEST stratum keeps everything (α<1 upweights rare domains):
    r_d = (c_min / c_d)^(1−α).

    Quantization is FLOOR, not round: floor of an IEEE double is the
    same on every engine, while round() differs at exact .5 ties
    (banker's vs half-away). α = 0.5 — the graded configuration — goes
    through sqrt, which IEEE guarantees correctly rounded in both
    engines; other α use pow, where a last-ulp libm difference could in
    principle flip a floor boundary (documented, measure-zero).
    """
    c_min = min(counts.values())
    out = {}
    for v, c in counts.items():
        r = math.sqrt(c_min / c) if alpha == 0.5 else (c_min / c) ** (1 - alpha)
        out[v] = int(math.floor(denom * r))
    return out


def temperature_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    alpha: float = 0.5,
    seed: str = "",
) -> DataFrame:
    """Deterministic temperature-α mixing: one k-row count aggregate
    fixes the per-stratum thresholds on the driver (k = #domains, tiny
    by nature), then the keep decision is the same shuffle-free portable
    hash filter as ``stratified_sample`` — reproducible, append-stable,
    and exactly replayable by an external engine."""
    counts = {
        r[0]: r[1] for r in df.groupBy(strata_col).agg(F.count("*")).collect()
    }
    # NULL strata carry no count-derived rate — they are dropped (the
    # when-chain's otherwise(0) already excludes them, since col == value
    # is never true for NULL); keeping None out of the dict also keeps
    # sorted() from comparing None against real keys. An empty frame has
    # no thresholds to derive — return it unchanged (still empty).
    counts.pop(None, None)
    if not counts:
        return df.filter(F.lit(False))
    th = temperature_thresholds(counts, alpha)
    threshold = F.lit(0)
    for value, t in sorted(th.items()):
        threshold = F.when(F.col(strata_col) == value, F.lit(t)).otherwise(threshold)
    return df.filter(portable_rate_hash(F.col(key_col), seed) < threshold)


def epoch_mix(
    df: DataFrame,
    epochs: dict[str, float],
    strata_col: str,
    key_col: str,
    seed: str = "",
    default_epochs: float = 1.0,
) -> DataFrame:
    """Fractional-EPOCH upsampling — the "2.5 epochs of books, 0.3 of
    logs" mixture-materialization step of a pretraining run: each row is
    emitted ``floor(e)`` times unconditionally plus once more with
    probability ``frac(e)``, each copy tagged with a 0-based ``epoch``
    column (so downstream shuffling/packing can decorrelate copies).

    Deterministic and shuffle-free: the whole-copy fan-out is a
    row-local ``explode(sequence(...))`` and the fractional copy reuses
    the stratified-sampling portable-hash rule (hash < frac·DENOM with
    an INTEGER threshold — same tie discipline as ``stratified_sample``),
    keyed on (key ‖ seed) so the partial-epoch subset is stable under
    appends and reproducible by the oracle. Expected output size is
    Σ_s e_s·|s|; no copy of the text crosses the wire beyond the
    explode's in-partition duplication.
    """
    n_whole = F.lit(int(default_epochs))
    threshold = F.lit(int(round((float(default_epochs) % 1.0) * DENOM)))
    for value, e in sorted(epochs.items()):
        n_whole = F.when(F.col(strata_col) == value, F.lit(int(e))).otherwise(n_whole)
        threshold = F.when(
            F.col(strata_col) == value, F.lit(int(round((float(e) % 1.0) * DENOM)))
        ).otherwise(threshold)
    extra = (portable_rate_hash(F.col(key_col), seed) < threshold).cast("int")
    n_copies = n_whole + extra
    return (
        df.withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") > 0)
        .withColumn(
            "epoch",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), (F.col("_n_copies") - 1).cast("long")
                )
            ),
        )
        .drop("_n_copies")
    )


def cluster_balanced_sample(
    vectors: DataFrame,
    centroids: list[list[float]],
    target_per_cluster: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "",
) -> DataFrame:
    """DIVERSITY sampling over an embedding corpus: keep ≈
    ``target_per_cluster`` vectors from every k-means cell, so dominant
    content clusters stop drowning out rare ones (the SemDeDup /
    cluster-balanced-selection shape of pretraining curation).

    (id, cell): assignment is ``similarity.ivf_assign`` (JVM argmin);
    per-cell keep rates become INTEGER thresholds
    ``min(DENOM, DENOM·target // count_c)`` computed from a k-row count
    aggregate, then the portable-hash filter keeps each vector
    deterministically — the same decide-once-on-the-driver +
    shuffle-free-filter shape as ``temperature_sample``, with clusters
    as the strata. Exact per-cell quotas would need a per-cell rank
    window (one task per hot cell — a skew cliff); the hash-rate form
    is skew-immune and lands within sampling noise of the quota.

    Two passes over the vectors (count, then filter) — deliberate:
    caching the assignment at 100 TB costs more than re-running the
    codegen argmin, and both passes are scan-local. Thresholds ride a
    broadcast k-row table, so the plan stays O(1) nodes however many
    clusters exist.
    """
    from lovdata_pipeline_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(vectors, centroids, id_col, vec_col).select(id_col, "cell")
    counts = {
        int(r["cell"]): int(r["n"])
        for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    thresholds = [
        (cell, min(DENOM, (DENOM * int(target_per_cluster)) // n))
        for cell, n in sorted(counts.items())
    ]
    thr = F.broadcast(driver_rows(vectors.sparkSession, thresholds, "cell int, _thr int"))
    return (
        assigned.join(thr, "cell")
        .filter(portable_rate_hash(F.col(id_col), seed) < F.col("_thr"))
        .select(id_col, "cell")
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str,
    seed: str = "",
) -> DataFrame:
    """Deterministic TRAIN/VAL/TEST split: adds a ``split`` column
    assigning each row to one named slice with the given probabilities —
    the dataset-split step every training run needs, with the properties
    random splits lack at scale:

      * append-stable: new rows never move old rows between splits
        (the decision is a pure function of key ‖ seed);
      * leak-proof by construction: one row, exactly one split —
        boundaries are half-open integer ranges over the portable hash,
        so no row can satisfy two slices even at threshold values;
      * shuffle-free: a scan-local projection, no RNG state, no
        repartition; the oracle replays every decision bit-for-bit.

    ``weights`` maps split name → fraction; fractions are quantized to
    INTEGER hash-range bounds (cumulative ``round(Σw·DENOM)``, same tie
    discipline as ``stratified_sample``) in sorted-name order, with the
    LAST slice absorbing the rounding remainder up to DENOM — Σw should
    be ≈1; anything left unassigned falls into the final slice.
    """
    if not weights:
        raise ValueError("hash_split needs at least one named slice")
    bounds = []
    acc = 0.0
    names = sorted(weights)
    for name in names:
        acc += float(weights[name])
        bounds.append((name, int(round(acc * DENOM))))
    bounds[-1] = (bounds[-1][0], DENOM)  # last slice absorbs remainder
    h = portable_rate_hash(F.col(key_col), seed)
    expr = F.lit(bounds[-1][0])
    for name, hi in reversed(bounds[:-1]):
        expr = F.when(h < hi, F.lit(name)).otherwise(expr)
    # the when-chain tests ascending bounds: h < hi_1 → slice 1, else
    # h < hi_2 → slice 2, ... else the last slice. Built in reverse so
    # the FIRST matching (smallest) bound wins.
    return df.withColumn("split", expr)


def top_k_per_group(
    df: DataFrame,
    k,
    group_col: str,
    order_col: str,
    id_col: str,
    descending: bool = True,
) -> DataFrame:
    """Exact top-k rows per group — the per-domain quota cap (keep only
    the k best documents of each source) — WITHOUT funnelling each
    group through a single task.

    The naive ``row_number() OVER (PARTITION BY group)`` sends every
    row of a group to one task: with 20 sources and 100 TB that is 20
    tasks doing all the work. Instead, phase 1 ranks within
    (group, input-partition) — parallelism is P×|groups|, and at most
    k·P rows per group survive; phase 2 ranks the survivors per group,
    which is k·P rows — thousands, not billions. Output is exact and
    partition-independent: any global top-k row is necessarily in its
    partition's local top-k, and ties break on ``id_col``.

    ``k`` is either one global quota (int) or a per-group quota map
    ``dict[group value → k]`` — the FineWeb-style "cap every domain, but
    differently" selection. Dict quotas ride a broadcast |groups|-row
    table through the same two phases (phase 1 prunes each group to its
    OWN k·P); groups absent from the dict are excluded (quota 0).

    Column contract: the output ``rk`` column REPLACES any ``rk`` the
    input carried; internal helper columns are uniquely prefixed
    (``_tkpg_``) so caller columns can't collide with them (r5 ADVICE).

    ``_tkpg_pid`` deliberately uses ``spark_partition_id()``: phase 1's
    grouping varies with physical partitioning, but the FINAL result
    never does (pinned by the partition-independence test).
    """
    reserved = {"_tkpg_pid", "_tkpg_lr", "_tkpg_k"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(f"top_k_per_group reserves columns {sorted(clash)}")
    if isinstance(k, dict):
        gtype = df.schema[group_col].dataType.simpleString()
        kdf = F.broadcast(
            driver_rows(
                df.sparkSession,
                sorted((g, int(q)) for g, q in k.items()),
                f"{group_col} {gtype}, _tkpg_k int",
            )
        )
        df = df.join(kdf, group_col)
        k_col = F.col("_tkpg_k")
    else:
        k_col = F.lit(int(k))
    ordering = [
        F.col(order_col).desc() if descending else F.col(order_col).asc(),
        F.col(id_col).asc(),
    ]
    local_w = Window.partitionBy(group_col, "_tkpg_pid").orderBy(*ordering)
    survivors = (
        df.withColumn("_tkpg_pid", F.spark_partition_id())
        .withColumn("_tkpg_lr", F.row_number().over(local_w))
        .filter(F.col("_tkpg_lr") <= k_col)
        .drop("_tkpg_pid", "_tkpg_lr")
    )
    glob_w = Window.partitionBy(group_col).orderBy(*ordering)
    out = survivors.withColumn("rk", F.row_number().over(glob_w)).filter(
        F.col("rk") <= k_col
    )
    return out.drop("_tkpg_k") if isinstance(k, dict) else out


def weighted_sample_per_group(
    df: DataFrame,
    k: int,
    group_col: str,
    weight_col: str,
    id_col: str,
    seed: str = "",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group, fully
    deterministic — the Efraimidis–Spirakis one-pass scheme: each row
    draws u ∈ (0, 1] from the portable md5 hash of its key, scores
    ln(u)/weight, and the k highest scores per group win. Higher-weight
    rows divide their (negative) ln(u) by more, landing nearer zero —
    exactly the E-S u^(1/w) order, taken in log space to stay inside
    the repo's no-pow determinism rule.

    No RNG state, no shuffle beyond the ranking itself: any engine
    replays the identical sample (the oracle does), and a seed change
    decorrelates. Append behavior is the honest top-k kind: each row's
    SCORE is stable forever (hash of its key), so appending rows never
    reshuffles the existing order — but a new high-scoring row can
    displace the current rank-k winner, exactly as sampling-without-
    replacement semantics require (unlike ``stratified_sample``'s
    rate-based filter, whose per-row decisions are fully append-stable).
    Routes through ``top_k_per_group`` so no single task processes a
    whole group. Rows with weight ≤ 0 cannot be drawn and are excluded;
    the rank is computed on the ROUNDED 6-dp score (id-asc ties) so
    cross-engine ln ulps cannot reorder it.

    u is drawn from the FULL 60-bit hash, (double(h) + 1) / 2^60 ∈
    (0, 1] — not the rate hash's 10k-value quantization, whose u
    collisions at equal weight would deterministically over-select low
    ids in groups much larger than ~10k rows (r5 ADVICE). The operand
    order (cast-to-double FIRST, then +1, then divide) is mirrored by
    the oracle so every IEEE step is identical cross-engine.
    """
    h = portable_hash60(F.col(id_col), seed)
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(1 << 60))
    scored = df.filter(F.col(weight_col) > 0).withColumn(
        "es_score", F.round(F.log(u) / F.col(weight_col), 6)
    )
    return top_k_per_group(scored, k, group_col, "es_score", id_col)


def stratified_split(
    df: DataFrame,
    splits: tuple[tuple[str, int], ...] = (("train", 80), ("val", 10), ("test", 10)),
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "split-v1",
) -> DataFrame:
    """EXACT-COUNT stratified train/val/test split: within every
    stratum, split sizes are exactly ``floor(n·pct/100)`` (the last
    split absorbs the remainder) — the held-out-set contract
    ``hash_split``'s rate-based filter cannot give (its per-stratum
    realized fractions wander by O(1/√n), which at a 500-row stratum
    is a ±4% validation set).

    ``splits`` are (name, integer-percent) pairs summing to 100 —
    integer percents make every threshold ``n·pct div 100`` exact
    integer arithmetic, portable across engines (a double ``0.8·n``
    could round differently at the floor boundary).

    Assignment is deterministic and append-indifferent *per epoch
    seed*: rows order within their stratum by ``md5(id ‖ seed)`` (id
    unique ⇒ order total), and the first ``t₁`` go to split 1, the
    next ``t₂−t₁`` to split 2, … Rank, not hash-range, is what makes
    counts exact.

    Scale shape: the within-stratum rank is NOT a per-stratum window
    (one task per stratum funnels the corpus' dominant source through
    a single task at 100 TB). It reuses ``packing.global_token_offsets``'
    two-phase prefix sum with unit weights over the composite key
    ``stratum ‖ 0x1f ‖ hash`` — range-partitioned, k subtotal rows to
    the driver, partition-local windows — then subtracts each stratum's
    start offset (a |strata|-row broadcast). The 0x1f separator keeps
    strata contiguous in string order; within a stratum the composite
    orders by the hash alone.

    Output: input columns + ``split``. NULL strata group together
    (coalesced to '', mirrored in oracles).

    CACHE NOTE: the prefix-sum rank frame is cached for the lifetime of
    the session and tracked in ``packing._RETAINED`` — long-lived
    sessions calling this repeatedly should call
    ``packing.release_offsets_caches()`` between waves (the contract
    was previously documented only in packing's module docstring, which
    a sampling-API caller never reads — r10 review).
    """
    from lovdata_pipeline_spark.operators.packing import global_token_offsets

    pcts = [p for _, p in splits]
    if sum(pcts) != 100 or any(p <= 0 for p in pcts) or len(splits) < 2:
        raise ValueError(
            f"splits must be >=2 positive integer percents summing to 100, got {splits}"
        )
    strata = F.coalesce(F.col(strata_col).cast("string"), F.lit(""))
    keyed = df.withColumn(
        "_skey",
        F.concat(
            strata,
            F.lit("\x1f"),
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed))),
        ),
    )
    ranks = global_token_offsets(
        keyed.withColumn("_one", F.lit(1)), id_col="_skey", token_col="_one"
    ).select("_skey", F.col("tok_start").alias("_grank"))
    ranked = keyed.join(ranks, "_skey")
    starts = ranked.groupBy(strata.alias("_stratum")).agg(
        F.min("_grank").alias("_s0"), F.count(F.lit(1)).alias("_n")
    )
    ranked = ranked.join(
        F.broadcast(starts), strata == F.col("_stratum")
    ).withColumn("_rn", F.col("_grank") - F.col("_s0"))
    cum = 0
    assign = None
    for name, pct in splits[:-1]:
        cum += pct
        cond = F.col("_rn") < F.expr(f"_n * {cum} div 100")
        assign = F.when(cond, name) if assign is None else assign.when(cond, name)
    assign = assign.otherwise(splits[-1][0])
    return ranked.withColumn("split", assign).drop(
        "_skey", "_grank", "_stratum", "_s0", "_n", "_rn"
    )
