"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configuration is cluster-safe — every knob here is about letting Catalyst
and AQE do the planning rather than hand-scheduling.
"""

from __future__ import annotations

import os

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
