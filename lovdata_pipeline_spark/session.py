"""SparkSession factory tuned for this engine, plus the package's one
constructor for driver-held frames (``driver_rows``) and its one cache
policy (``cached`` for a reuse within one call, ``retain`` for a frame
handed back cached).

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configuration is cluster-safe — every knob here is about letting Catalyst
and AQE do the planning rather than hand-scheduling.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, MapType, StructField, StructType


def get_spark(
    app_name: str = "lovdata_pipeline_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing of shuffle partitions, skew-join
      splitting — the 100 TB safety net for skewed keys.
    - Arrow on: every pandas-UDF boundary (chunker, tokenizer, embedder)
      moves data in columnar batches, not pickled rows.
    - shuffle.partitions defaults to the local core count for tests; on a
      real cluster you would size it to ~2-3× total executor cores (AQE
      coalesces the excess anyway).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_rows(spark: SparkSession, rows: list, schema) -> DataFrame:
    """The package's one DataFrame over rows held on the driver (tuples
    or ``Row`` objects in the order of ``schema``, a StructType or DDL).
    The rows become a ``pyarrow.Table`` built column by column with the
    schema's Arrow types, so nothing is inferred (a long next to a null
    stays exact). Spark reads it as a ``LocalRelation``: no Python task
    runs at any action, and empty rows give an empty relation that
    ``PropagateEmptyRelation`` prunes. One partition: a scan is one
    task and an ``orderBy`` over the frame plans no exchange."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    schema = _open_structs(schema, top=True)
    arrow = to_arrow_schema(schema)
    cols = [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow)]
    table = pa.Table.from_arrays(cols, schema=arrow)
    return spark.createDataFrame(table, schema).coalesce(1)


@contextmanager
def cached(*frames: DataFrame | None) -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Persist ``frames`` (``None`` entries skipped) for the body of a
    ``with`` and unpersist them on every exit path, an exception
    included: the one scope for a frame reused within one call. The
    ``as`` target pins one more frame into the same scope and returns
    it, for frames built inside the body. It runs no action; the first
    action in the body fills the cache. A frame ``retain``ed inside the
    body keeps its blocks once an action has filled it, so it outlives
    the frames it was computed from."""
    pinned: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        pinned.append(df.cache())
        return df

    for df in frames:
        if df is not None:
            pin(df)
    try:
        yield pin
    finally:
        for df in reversed(pinned):
            df.unpersist()


#: frames handed back cached by the operators, until ``release_retained``
_retained: list[DataFrame] = []


def retain(df: DataFrame) -> DataFrame:
    """``df`` persisted and registered for ``release_retained``: the one
    way an operator hands back a cached frame. It runs no action, and no
    operator releases what it retains; the caller does, after the final
    action on anything derived from it."""
    _retained.append(df.cache())
    return df


def release_retained() -> int:
    """Unpersist every retained frame and return how many there were.
    Safe to call repeatedly; call it only once the final action on every
    frame derived from a retained one has run. After release, an action
    on a frame derived from ``packing.global_token_offsets`` is unsafe,
    not just slow: recomputation re-draws the range partitioning while
    the plan still joins the driver-held offsets of the old assignment,
    so ``tok_start`` stops being a prefix sum. Build a fresh operator
    call for new work."""
    n = len(_retained)
    while _retained:
        _retained.pop().unpersist()
    return n


def _open_structs(dt, top: bool = False):
    """``dt`` with every nested struct field nullable: PySpark rebuilds
    a struct holding a nested or timestamp child with nullable children
    before its Arrow cast, which then refuses a non-nullable target."""
    if isinstance(dt, ArrayType):
        return ArrayType(_open_structs(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(dt.keyType, _open_structs(dt.valueType), dt.valueContainsNull)
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _open_structs(f.dataType), f.nullable or not top) for f in dt]
        )
    return dt
