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
    """Round-robin ``df`` over ``defaultParallelism`` partitions when it
    reads fewer files than that; otherwise return it unchanged.

    A single-file parquet table arrives as one scan task, which
    serializes every compute-heavy per-row projection that runs before
    the first Exchange (per-token hashing, gram explosion, winnowing,
    span surgery) — measured 2.5-3x on the sf0.1 corpus for
    gopher-repetition and simhash. A corpus-scale table already has at
    least as many files as cores, so there this is a no-op.

    ``inputFiles()`` is a driver-side file-index lookup: the decision
    runs no job. Frames with no files are left alone: in-memory frames,
    streams, and cached frames (their optimized plan reads the cache, not
    the files). A caller that caches a narrow frame spreads it before
    ``.cache()``. Spreading an already-spread frame again adds no
    exchange when only filters or plain column selections lie between
    the two (Catalyst's ``CollapseRepartition`` merges them); a computed
    column between them keeps both. Round-robin repartition is
    retry-safe (sort-before-repartition is on by default, SPARK-23207).
    """
    try:
        files = df.inputFiles()
    except Exception:  # streaming sources etc. — leave untouched
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if files and len(files) < target:
        return df.repartition(target)
    return df


def max_broadcast_rows() -> int:
    """The driver-side row bound for a side that is small by contract
    (``SPARK_GRAFT_MAX_BROADCAST_ROWS``, default 1e6 rows): the most
    rows a caller may broadcast or collect to the driver."""
    return int(os.environ.get("SPARK_GRAFT_MAX_BROADCAST_ROWS", "1000000"))


def collect_bounded(df: DataFrame, *, warn: bool = True) -> list | None:
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
    ``warn=False`` is for callers whose distributed path is the designed
    regime for large inputs, not a broken contract.
    """
    import warnings

    bound = max_broadcast_rows()
    rows = df.limit(bound + 1).collect()
    if len(rows) <= bound:
        return rows
    if not warn:
        return None
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
