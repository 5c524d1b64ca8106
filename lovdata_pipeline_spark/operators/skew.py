"""Skew mitigation: salted joins and skew diagnosis.

AQE's skew-join splitting (enabled in session.py) handles most cases at
runtime; explicit salting is the structural fix when one join key
dominates so heavily that even split partitions overwhelm an executor —
e.g. a boilerplate shingle shared by 10% of a corpus in the dedup
inverted index.

``salted_join`` replicates the small side ``buckets`` times and spreads
the big side's hot rows across (key, salt) — semantics identical to the
plain join, shuffle skew reduced by ~buckets×.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F


def spread_if_narrow(df: DataFrame) -> DataFrame:
    """INPUT-skew fix (guide §2.5 "one huge unsplittable file"):
    round-robin repartition ONLY when the input has fewer partitions
    than cores. A single-file parquet table arrives as one scan task,
    which serializes every interpreted/codegen-heavy per-row projection
    that runs before the first Exchange (per-token md5 hashing, gram
    explosion, winnowing, surgery splices) — measured 2.5-3× on the
    sf0.1 corpus for gopher-repetition and simhash. A corpus-scale
    table is already many-partitioned, so this is a structural no-op at
    100 TB (the condition, not the call site, carries the scale story);
    round-robin repartition is retry-safe (sort-before-repartition is
    on by default, SPARK-23207).

    Lived in queries.py since r5 applied to three queries; r13 hoists
    it here so the OPERATORS whose first stage is compute-heavy can
    spread their own input instead of relying on each caller to
    remember (the callers that did — curation_report, decontam
    benchmark flags — measured the same serialization this fixes).

    r14 probe rewrite (VERDICT r13 Next #1): the old trigger probe was
    ``df.rdd.getNumPartitions()``, which builds the full RDD plan and —
    on any input that already contains an Exchange — makes AQE
    MATERIALIZE those shuffle stages, running real upstream compute
    that the actual query then re-runs (the exact cost r13 measured at
    +2.3s/call and rejected for the chunker, yet shipped everywhere
    else). The new probe never touches ``.rdd``:

    - ``df.inputFiles()`` (a driver-side file-index lookup, no job)
      approximates scan parallelism: a file-backed input with fewer
      files than cores is the single-scan-task shape this helper
      exists for. Non-file inputs (in-memory test frames, streams)
      return no files and are left alone — their partitioning came
      from whatever produced them.
    - a logical-plan check skips inputs whose CURRENT partitioning is
      already governed by an explicit ``Repartition`` — i.e. one that
      sits downstream of every shuffle-producing node — so composed
      operators (curation report → N textstats calls on the same
      spread frame) don't stack one round-robin Exchange per operator.
      A Repartition buried BELOW a later Join/Aggregate does NOT
      suppress the spread: that shuffle re-partitioned the data, and
      at local scale AQE coalesces a small post-shuffle frame to ~1
      partition, re-serializing the downstream compute (measured on
      pretraining_pipeline: probe-parity audit, OPTIMIZATION_r14.md).

    Both checks are pure driver metadata — zero jobs, zero AQE stage
    materialization, at any scale (bench A/B evidence in
    OPTIMIZATION_r14.md)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # streaming sources etc. — leave untouched
        return df
    if not files:
        # No file relation: probe ONLY cache-backed frames (pipeline
        # queries pass bounded cached samples/survivors whose expensive
        # subtree is already materialized, so ``.rdd`` here is a
        # metadata call — measured ~25 ms; on any other shape ``.rdd``
        # can execute AQE stages, the exact r13 cost this rewrite
        # removes, so everything else is left untouched).
        try:
            cached = (
                "InMemoryRelation"
                in df._jdf.queryExecution().optimizedPlan().toString()
            )
            if cached and df.rdd.getNumPartitions() < target:
                return df.repartition(target)
        except Exception:
            pass
        return df
    if len(files) >= target:
        return df
    plan = df._jdf.queryExecution().logical().toString()
    rep = _first_node(plan, ("Repartition",))
    if rep is not None:
        shuffle = _first_node(
            plan, ("Join", "Aggregate", "Window", "Deduplicate", "Sort")
        )
        if shuffle is None or rep < shuffle:
            # the newest layout decision is already an explicit spread
            return df
    return df.repartition(target)


def _first_node(plan: str, names: tuple[str, ...]) -> int | None:
    """Line index of the first (i.e. most-downstream) logical-plan NODE
    whose name starts with one of ``names``; None if absent. Matches
    node names only (line heads after the tree-drawing prefix), never
    expression text — a lowercase ``aggregate(...)`` lambda inside a
    projection does not count."""
    for i, line in enumerate(plan.splitlines()):
        head = line.lstrip(" :+-")
        if head.startswith(names):
            return i
    return None


def max_broadcast_rows() -> int:
    """The driver-side row bound for a side that is small by contract
    (``SPARK_GRAFT_MAX_BROADCAST_ROWS``, default 1e6 rows): the most
    rows a caller may broadcast or collect to the driver."""
    return int(os.environ.get("SPARK_GRAFT_MAX_BROADCAST_ROWS", "1000000"))


def collect_bounded(df: DataFrame) -> list | None:
    """Collect a side that is small by contract, or ``None`` when the
    contract is broken.

    The span-removal ranges, per-document needle lists, hot shingles and
    near-duplicate pair graphs of the curation operators are small by
    their documented rarity contract, but a mass-duplicated or
    mass-contaminated corpus breaks it, and an unchecked broadcast would
    then OOM the driver. One job, ``limit(max_broadcast_rows() + 1)
    .collect()``, reads the side and checks the bound at once: no
    separate count runs and nothing stays persisted. Callers rebuild the
    rows with ``session.driver_rows``, so the side survives executor
    loss. Past the bound this warns ("rarity contract") and returns
    ``None``; callers then take their distributed path over the lazy
    side, which re-evaluates it once per consumer — a cost only corpora
    that break the contract pay. The collect holds at most bound + 1
    rows, the driver memory a broadcast of the side needs anyway.
    """
    import warnings

    bound = max_broadcast_rows()
    rows = df.limit(bound + 1).collect()
    if len(rows) <= bound:
        return rows
    warnings.warn(
        f"collect_bounded: side has >{bound} rows — the rarity contract "
        "is broken; falling back to the distributed path instead of "
        "collecting it to the driver (raise SPARK_GRAFT_MAX_BROADCAST_ROWS "
        "only if the driver is sized for it)",
        RuntimeWarning,
        stacklevel=2,
    )
    return None


def skew_report(df: DataFrame, key_cols: list[str], top_n: int = 10) -> DataFrame:
    """Per-key row counts + share of total: the diagnosis query you run
    before deciding to salt. (key..., n, share)."""
    total = df.count()
    return (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("n"))
        .withColumn("share", F.round(F.col("n") / F.lit(total), 6))
        .orderBy(F.col("n").desc())
        .limit(top_n)
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str] | str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join with the big side's rows spread over ``buckets`` salt values.

    Big side: deterministic salt from a row hash (no rand() — results
    stay reproducible). Small side: exploded once per salt value, so
    every (key, salt) bucket still finds its match. Output equals
    ``big.join(small, on, how)`` row-for-row.

    Supports inner and left joins (the shapes where the big side drives
    the skew); small-side-preserving joins don't need salting — broadcast
    the small side instead.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left'")
    keys = [on] if isinstance(on, str) else list(on)

    salt_src = F.xxhash64(*[F.col(c) for c in big.columns])
    big_salted = big.withColumn("_salt", F.pmod(salt_src, F.lit(buckets)).cast("int"))
    # explode must be top-level in the projection (no cast wrapper)
    small_salted = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return big_salted.join(small_salted, keys + ["_salt"], how).drop("_salt")
