"""Z-order (Morton-curve) multi-dimensional data layout.

The 100-TB lakehouse clustering operator (Delta/Iceberg ``OPTIMIZE
ZORDER BY``): rows sort along an interleaved-bit space-filling curve so
that ONE physical layout serves range predicates on EITHER (or both)
of two dimensions — a layout sorted by x alone prunes nothing for a
tight y predicate, while z-order keeps every file/bucket covering a
small x-range × y-range rectangle. Pruning then needs no curve
arithmetic at read time: it is plain per-bucket min/max column stats,
exactly how Delta data-skipping consumes a z-ordered table.

Everything here is pure integer math, replayable bit-for-bit in SQL:

- quantize: ``q = ((v - min) · 2^bits) div (max - min + 1)`` maps each
  dimension onto [0, 2^bits) (min/max from one broadcast 1-row agg —
  the repo's scalar-frame idiom). Caller contract: the dimension range
  must stay below 2^(62-bits) so the product cannot overflow a long —
  ids, cents, epoch seconds all fit at bits=16.
- interleave: the classic magic-mask bit spread (x|x<<8 &.., …) puts
  qx on even and qy on odd bit positions → ``zvalue`` ∈ [0, 2^(2·bits)).
- bucket: ``zbucket = zvalue >> (2·bits - log2(n_buckets))`` — fixed
  equal-width curve ranges, so the bucket of a row is a pure function
  of its values (an ORACLE can replay it; a sampled range partitioner
  could balance rows better but its boundaries are not replayable).

The persisted form (``zorder_write_index`` / ``zorder_box_scan``) is
an ``indexwrite`` artifact (one file per bucket directory, params +
per-bucket stats in the JSON sidecar); reads prune with an IN filter
the plan shows as ``PartitionFilters``.

Incremental maintenance (``zorder_append``, r13): the sidecar PINS the
quantization ranges at build time (the chunk-store modulus-pin
doctrine — re-deriving min/max from data+append would silently move
every existing row's curve position), new rows quantize under the
pinned ranges with out-of-range values CLAMPED to the pinned boundary
value first (``least(hi, greatest(lo, v))`` — deterministic and
SQL-replayable; pass ``on_out_of_range="error"`` to fail loud
instead), and only the dirty
buckets are rewritten via dynamic partition overwrite — the chunk-store
upsert idiom (``sources/chunk_store.py:185``), applied to layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from lovdata_pipeline_spark.operators.indexwrite import (
    read_sidecar,
    sidecar_name,
    write_artifact,
    write_sidecar,
)

#: interleave precision per dimension; zvalue spans 2*ZBITS bits.
ZBITS = 16

_SIDECAR = sidecar_name("zorder")
_VERSION = "zorder-v1"


def _spread_bits16(col: Column) -> Column:
    """Spread a 16-bit value's bits onto the even bit positions of a
    32-bit lane (Morton encode half): the standard magic-mask doubling
    chain — pure long ops both engines implement identically."""
    x = col.cast("long")
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def _quantize(v: str, lo: str, hi: str, bits: int) -> Column:
    """((v - lo) · 2^bits) div (hi - lo + 1) ∈ [0, 2^bits) — exact
    integer rank-free quantization over NAMED staged columns (the
    sketches.py expr idiom: div is the integer form, never /);
    constant columns (hi == lo) collapse to bucket 0. Two fail-loud
    guards (the wrong-modulus/chunk-store doctrine):

    - NULL (or long-uncastable, which casts to NULL) dimension values
      would otherwise flow to a null zbucket — silently unpartitioned
      rows plus a poisoned "None" stats-sidecar entry every later box
      scan trips over (r12 ADVICE, medium). Raise per-row instead.
    - A dimension range at or above 2^(62-bits) would overflow the
      long product and silently scramble the curve. The range check
      itself must not subtract across mixed signs (lo < 0 ≤ hi can
      wrap hi - lo negative under non-ANSI semantics and slip PAST
      the guard — r12 ADVICE): in that branch test hi >= lo + limit,
      whose right side stays in (-2^63, limit) because lo < 0, and
      only form hi - lo where both legs share a sign (no overflow
      possible: the true difference is < 2^63).
    """
    limit = 1 << (62 - bits)
    overflows = (
        f"CASE WHEN {lo} < 0 AND {hi} >= 0 THEN {hi} >= {lo} + {limit} "
        f"ELSE ({hi} - {lo}) >= {limit} END"
    )
    return F.expr(
        f"CASE WHEN {v} IS NULL THEN "
        f"raise_error(concat('zorder: NULL or non-long-castable value in "
        f"dimension ', '{v}', ' — clean or cast the column first')) "
        f"WHEN {overflows} THEN "
        f"raise_error(concat('zorder: dimension range of ', '{v}', "
        f"' exceeds 2^{62 - bits} — rescale the column first')) "
        f"ELSE (({v} - {lo}) * {1 << bits}) div ({hi} - {lo} + 1) END"
    )


def _validate_params(bits: int, n_buckets: int) -> None:
    if not 1 <= bits <= 16:
        # _spread_bits16's magic-mask chain is a 16-bit spread: bits
        # above 16 would silently mask away the high quantized bits
        # and scramble the curve (r12 ADVICE)
        raise ValueError("zorder_frame: bits must be in [1, 16]")
    if n_buckets & (n_buckets - 1):
        raise ValueError("zorder_frame: n_buckets must be a power of two")
    if not 1 <= n_buckets <= 1 << (2 * bits):
        # more buckets than curve points would make the bucket shift
        # negative (r12 ADVICE)
        raise ValueError(
            f"zorder_frame: n_buckets must be in [1, 4^bits] = [1, {1 << (2 * bits)}]"
        )


def _interleave(out: DataFrame, bits: int, n_buckets: int) -> DataFrame:
    """qx/qy → zvalue/zbucket: the shared tail of both frame builders."""
    shift = 2 * bits - (n_buckets.bit_length() - 1)
    z = _spread_bits16(F.col("qx")).bitwiseOR(
        F.shiftleft(_spread_bits16(F.col("qy")), 1)
    )
    return out.withColumn("zvalue", z).withColumn(
        "zbucket", F.shiftrightunsigned(F.col("zvalue"), shift)
    )


def zorder_frame(
    df: DataFrame, xcol: str, ycol: str, bits: int = ZBITS, n_buckets: int = 64
) -> DataFrame:
    """df + (qx, qy, zvalue, zbucket) — the Morton layout columns.

    One broadcast 1-row min/max agg supplies the quantization range
    (the scalar-frame idiom: a crossJoin against a 1-row frame is a
    BroadcastNestedLoopJoin, not a shuffle); everything after is a
    narrow per-row projection inside whole-stage codegen.
    """
    _validate_params(bits, n_buckets)
    stats = df.agg(
        F.min(xcol).cast("long").alias("_zx_lo"),
        F.max(xcol).cast("long").alias("_zx_hi"),
        F.min(ycol).cast("long").alias("_zy_lo"),
        F.max(ycol).cast("long").alias("_zy_hi"),
    )
    out = (
        df.crossJoin(F.broadcast(stats))
        .withColumn("_zx", F.col(xcol).cast("long"))
        .withColumn("_zy", F.col(ycol).cast("long"))
        .withColumn("qx", _quantize("_zx", "_zx_lo", "_zx_hi", bits))
        .withColumn("qy", _quantize("_zy", "_zy_lo", "_zy_hi", bits))
        .drop("_zx", "_zy")
    )
    return _interleave(out, bits, n_buckets).drop(
        "_zx_lo", "_zx_hi", "_zy_lo", "_zy_hi"
    )


def _quantize_pinned(v: str, lo: int, hi: int, bits: int, clamp: bool) -> Column:
    """Quantize a staged column under a PINNED [lo, hi] range (Python
    ints from a sidecar — arbitrary precision, so the overflow check
    cannot wrap). Out-of-range values SATURATE to the pinned boundary
    VALUE before the formula (``clamp=True`` — exactly
    ``least(hi, greatest(lo, v))``, so an oracle replays it with plain
    LEAST/GREATEST; note quantize(hi) is NOT 2^bits-1 in general,
    which is why the value is clamped, never the quantized output) or
    raise (``clamp=False``). NULLs always raise FIRST — Spark's
    greatest/least skip nulls, which would silently pin a NULL to the
    corner (the r12 guard class)."""
    if lo > hi:
        raise ValueError(f"zorder: pinned range [{lo}, {hi}] of {v} is empty")
    if hi - lo >= (1 << (62 - bits)):
        raise ValueError(
            f"zorder: pinned range of {v} exceeds 2^{62 - bits} — "
            "rescale the column first"
        )
    if clamp:
        vv = f"least({hi}L, greatest({lo}L, {v}))"
        arms = ""
    else:
        vv = v
        arms = (
            f"WHEN {v} < {lo} OR {v} > {hi} THEN "
            f"raise_error(concat('zorder: value in ', '{v}', "
            f"' outside the pinned range [{lo}, {hi}] — use clamp or rebuild')) "
        )
    return F.expr(
        f"CASE WHEN {v} IS NULL THEN "
        f"raise_error(concat('zorder: NULL or non-long-castable value in "
        f"dimension ', '{v}', ' — clean or cast the column first')) "
        f"{arms}"
        f"ELSE (({vv} - {lo}) * {1 << bits}) div ({hi} - {lo} + 1) END"
    )


def zorder_frame_pinned(
    df: DataFrame,
    xcol: str,
    ycol: str,
    ranges: tuple[int, int, int, int],
    bits: int = ZBITS,
    n_buckets: int = 64,
    on_out_of_range: str = "clamp",
) -> DataFrame:
    """``zorder_frame`` under CALLER-pinned quantization ranges
    ``(xlo, xhi, ylo, yhi)`` — the incremental-maintenance form: the
    curve position of a value must be a pure function of the value and
    the ranges frozen at index build time, never of whatever data
    happens to be in the append batch (the chunk-store modulus-pin
    doctrine). No scalar-frame crossJoin: the ranges are literals, the
    whole projection is one narrow whole-stage-codegen pass."""
    if on_out_of_range not in ("clamp", "error"):
        raise ValueError(
            "zorder_frame_pinned: on_out_of_range must be 'clamp' or 'error'"
        )
    _validate_params(bits, n_buckets)
    xlo, xhi, ylo, yhi = (int(r) for r in ranges)
    clamp = on_out_of_range == "clamp"
    out = (
        df.withColumn("_zx", F.col(xcol).cast("long"))
        .withColumn("_zy", F.col(ycol).cast("long"))
        .withColumn("qx", _quantize_pinned("_zx", xlo, xhi, bits, clamp))
        .withColumn("qy", _quantize_pinned("_zy", ylo, yhi, bits, clamp))
        .drop("_zx", "_zy")
    )
    return _interleave(out, bits, n_buckets)


def _bucket_stats(zf: DataFrame) -> dict:
    """The sidecar's per-bucket stats of ``zf``: quantized min/max and
    row count, keyed by the bucket as a string (bounded: one row per
    bucket)."""
    stats = zf.groupBy("zbucket").agg(
        F.min("qx").alias("minqx"),
        F.max("qx").alias("maxqx"),
        F.min("qy").alias("minqy"),
        F.max("qy").alias("maxqy"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return {
        str(r["zbucket"]): {k: r[k] for k in stats.columns[1:]}
        for r in stats.orderBy("zbucket").collect()
    }


def zorder_write_index(
    df: DataFrame,
    path: str,
    xcol: str,
    ycol: str,
    bits: int = ZBITS,
    n_buckets: int = 64,
) -> None:
    """Persist ``df`` z-order-clustered: one parquet file per zbucket
    directory (``indexwrite`` discipline) plus a sidecar holding the
    layout params and the per-bucket quantized min/max stats the
    reader prunes with — the Delta data-skipping contract, in a form a
    plain JSON read can consume without touching any data file."""
    _validate_params(bits, n_buckets)
    [rng] = df.agg(
        F.min(xcol).cast("long").alias("xlo"),
        F.max(xcol).cast("long").alias("xhi"),
        F.min(ycol).cast("long").alias("ylo"),
        F.max(ycol).cast("long").alias("yhi"),
    ).collect()  # bounded: 1 row — pinned into the sidecar for appends
    if any(rng[k] is None for k in ("xlo", "xhi", "ylo", "yhi")):
        raise ValueError(
            "zorder_write_index: empty input or all-NULL dimension — "
            "nothing to pin the quantization ranges to"
        )
    ranges = (rng["xlo"], rng["xhi"], rng["ylo"], rng["yhi"])
    # "error" mode: the ranges ARE the data's min/max, so the guard can
    # only fire on a NULL — the r12 fail-loud contract
    zf = zorder_frame_pinned(
        df, xcol, ycol, ranges, bits=bits, n_buckets=n_buckets,
        on_out_of_range="error",
    ).persist()  # r13: the stats pass AND the partitioned write both
    # consume zf — unpersisted, each re-ran the full quantize projection
    # (and re-scanned the source) from scratch; one cached evaluation
    # feeds both (guide §5: reuse-justified persist, released below)
    sidecar = {
        "version": _VERSION,
        "xcol": xcol,
        "ycol": ycol,
        "bits": bits,
        "n_buckets": n_buckets,
        "ranges": {
            "xlo": ranges[0], "xhi": ranges[1],
            "ylo": ranges[2], "yhi": ranges[3],
        },
        "buckets": _bucket_stats(zf),
    }
    try:
        write_artifact(
            zf.drop("zvalue"), path, "zorder", sidecar, partition_col="zbucket"
        )
    finally:
        zf.unpersist()


def zorder_append(
    spark, df: DataFrame, path: str, on_out_of_range: str = "clamp"
) -> dict:
    """Append ``df`` into an existing z-order index INCREMENTALLY:
    quantize under the sidecar's PINNED ranges (never recomputed
    min/max — recomputing would silently move every existing row's
    curve position, the wrong-modulus failure class), rewrite ONLY the
    dirty buckets via dynamic partition overwrite (the chunk-store
    upsert idiom: union new rows with the dirty buckets' existing rows,
    one file per bucket; the rewrite plan reads the very files it
    replaces, which is safe because the bucket directories swap only at
    job commit), and refresh the dirty buckets' stats in the sidecar
    (atomic tmp+rename swap).

    Out-of-pinned-range rows clamp to the pinned boundary value by
    default (deterministic, SQL-replayable with LEAST/GREATEST, and
    still covered by the edge cells' stats rectangles so box scans
    stay exact in quantized space); ``on_out_of_range="error"`` fails
    loud instead. Returns ``{"appended": n, "dirty_buckets": [...]}``.
    """
    sc = read_sidecar(path, "zorder", _VERSION)
    if "ranges" not in sc:
        raise ValueError(
            f"zorder index at {path}: no pinned ranges in sidecar "
            "(written by a pre-append build) — rebuild the index"
        )
    r = sc["ranges"]
    bits, n_buckets = int(sc["bits"]), int(sc["n_buckets"])
    existing_cols = set(spark.read.parquet(path).columns)
    expect = existing_cols - {"qx", "qy", "zbucket"}
    if set(df.columns) != expect:
        raise ValueError(
            f"zorder_append: columns {sorted(set(df.columns))} do not match "
            f"the indexed schema {sorted(expect)}"
        )
    new = zorder_frame_pinned(
        df, sc["xcol"], sc["ycol"], (r["xlo"], r["xhi"], r["ylo"], r["yhi"]),
        bits=bits, n_buckets=n_buckets, on_out_of_range=on_out_of_range,
    ).drop("zvalue")
    # persisted once: the probe and the rewrite both read it (and the
    # guard exprs fire in the probe, not again in the rewrite)
    new = new.persist()
    try:
        # ONE probe job: the dirty buckets and the appended row count
        probe = new.groupBy("zbucket").count().collect()  # <= n_buckets rows
        dirty = sorted(row["zbucket"] for row in probe)
        if not dirty:
            return {"appended": 0, "dirty_buckets": []}
        old = (
            spark.read.parquet(path)
            .where(F.col("zbucket").isin(dirty))
            # partition-column type is inferred (int) on read; the fresh
            # side computes long — align before unionByName
            .withColumn("zbucket", F.col("zbucket").cast("long"))
        )
        merged = old.unionByName(new.select(*old.columns))
        (
            merged.repartition(F.col("zbucket"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("zbucket")
            .parquet(path)
        )
    finally:
        new.unpersist()
    spark.catalog.refreshByPath(path)
    # stats from the written buckets: ``merged``'s lazy ``old`` side would
    # now read the new files and count the appended rows twice
    sc["buckets"].update(
        _bucket_stats(spark.read.parquet(path).where(F.col("zbucket").isin(dirty)))
    )
    write_sidecar(path, "zorder", sc)
    appended = sum(row["count"] for row in probe)
    return {"appended": appended, "dirty_buckets": [int(d) for d in dirty]}


def zorder_box_buckets(
    path: str, qx_lo: int, qx_hi: int, qy_lo: int, qy_hi: int
) -> tuple[list[int], int]:
    """The pruning rule: (the zbuckets whose stats rectangle intersects
    the quantized box [qx_lo, qx_hi] × [qy_lo, qy_hi], the index's
    bucket count), from the sidecar alone."""
    sc = read_sidecar(path, "zorder", _VERSION)
    for b, s in sc["buckets"].items():
        # a "None" bucket with null stats means the index was written
        # from rows with NULL dimension values (pre-guard build): its
        # rows are invisible to any stats rectangle — refuse the whole
        # index rather than silently dropping them
        if b == "None" or any(
            s[k] is None for k in ("minqx", "maxqx", "minqy", "maxqy")
        ):
            raise ValueError(
                f"zorder index at {path}: bucket {b!r} has null stats "
                "(written from NULL dimension values) — rebuild the index"
            )
    cands = [
        int(b)
        for b, s in sc["buckets"].items()
        if s["minqx"] <= qx_hi and s["maxqx"] >= qx_lo
        and s["minqy"] <= qy_hi and s["maxqy"] >= qy_lo
    ]
    return cands, len(sc["buckets"])


def zorder_box_scan(
    spark,
    path: str,
    qx_lo: int,
    qx_hi: int,
    qy_lo: int,
    qy_hi: int,
) -> DataFrame:
    """Read only the zbuckets ``zorder_box_buckets`` keeps, then apply
    the box predicate. The IN filter on the partition column is what
    the plan shows as ``PartitionFilters`` — file-level pruning from
    plain per-bucket min/max stats, no curve arithmetic at read time."""
    cands, _ = zorder_box_buckets(path, qx_lo, qx_hi, qy_lo, qy_hi)
    df = spark.read.parquet(path)
    return df.where(F.col("zbucket").isin(cands)).where(
        (F.col("qx") >= qx_lo) & (F.col("qx") <= qx_hi)
        & (F.col("qy") >= qy_lo) & (F.col("qy") <= qy_hi)
    )
